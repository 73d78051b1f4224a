package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Training-data-pipeline extension operators (SURVEY.md §7.5 north star):
  * text analysis, exact/near dedup (MinHash, SimHash, n-gram Jaccard),
  * and embedding similarity search — each as a Verify query with a DuckDB
  * oracle so the *computation* (hashing, shingling, signatures, cosine) is
  * checked across engines, not just row counts.
  *
  * Scale notes: every per-doc computation here is map-side (no shuffle);
  * the only exchanges are the final groupBy/window, keyed so AQE can
  * coalesce/split them. Near-dup candidate generation is LSH-bucketed
  * (shuffle on band key ~ O(N)), never the O(N²) cross join.
  */
object ExtensionQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_text_tokens" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))),

    "x02_text_quality" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
                length(col("text")).as("len"),
                round(T.punctRatio(col("text")), 4).as("punct_ratio"),
                round(T.stopwordRatio(col("text")), 4).as("stopword_ratio"),
                T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "x03_text_langid" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.langId(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))),

    "x04_text_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "x05_dedup_exact" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(T.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dups"))
        .select(col("keep_id"), col("dups"), col("fp"))
        .orderBy(col("keep_id"))),

    "x06_dedup_minhash" -> ((s, dir) =>
      // words → native one-pass md5 signature (oracle-identical to the
      // composed md5 form) → staged band projection
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          graft.functions.expr.MinHashSigMd5(col("_w"), 3, 8).as("_sig"))
        .select(col("doc_id"),
                concat_ws("|", col("_sig")).as("sig"),
                concat_ws("|", T.lshBands(col("_sig"), bands = 4,
                  rowsPerBand = 2)).as("bands"))
        .orderBy(col("doc_id"))),

    "x07_dedup_simhash" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.simhash(col("text"), 16).as("sh"))
        .orderBy(col("doc_id"))),

    "x08_dedup_ngram_jaccard" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
                T.ngramJaccard(col("text_a"), col("text_b"), 3).as("jaccard"))
        .orderBy(col("id_a"))
    }),

    "x09_sim_topk" -> ((s, dir) => {
      // Norms are computed ONCE per row on each side (O(N)) BEFORE the
      // pair join, so the per-pair work is a single dot product — at scale
      // this is the difference between 1 and 3 vector traversals per
      // candidate. cos = dot/(na*nb) is the same IEEE arithmetic as
      // V.cosine, so results stay oracle-identical.
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
                V.norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
                col("nrm").as("qn"))
      val cand = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
                          col("nrm").as("nn"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      broadcast(q).join(cand, col("nid") =!= col("qid"))
        .withColumn("cos",
          when(col("qn") === 0.0 || col("nn") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("nid"),
                round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    "x11_text_subword" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))),

    "x12_text_rollhash" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), T.rollingHash(col("text")).as("rh"))
        .orderBy(col("doc_id"))),

    // batch sessionization (gaps-and-islands): lag + cumulative flag
    // sum, 30-min gap
    "x13_sessionize_batch" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gap = unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(byUser))
      val flag = when(gap.isNull || gap > 1800, 1).otherwise(0)
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("session_id", sum(flag).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
             round(sum(col("value")), 4).as("total_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "x10_sim_pairs" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
                round(V.cosine(col("va"), col("vb")), 4).as("cos"))
        .orderBy(col("id_a"))
    }),

    // X27 — the training-corpus PREPARATION pipeline end-to-end: language
    // gate → quality gate → token-length gate → exact dedup (keep min id)
    // → deterministic split assignment. Every stage is an operator already
    // oracled on its own (x03/x02/x01/x05/x23); this checks their
    // COMPOSITION as one dataflow — the flagship "prepare a corpus" query.
    // All gates are map-side; dedup is the single shuffle; split is a pure
    // md5 projection.
    "x27_corpus_prep" -> ((s, dir) => {
      // persisted: the gated frame feeds BOTH the dedup groupBy and the
      // semi-join probe — without a cache the expensive per-doc text
      // analysis (4 marker regex counts + quality ratios + fingerprint)
      // runs twice. `text` is NOT in the projection: nothing downstream
      // reads it, and caching the raw corpus besides its derived columns
      // would multiply the cache footprint by the document size.
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"),
                T.langId(col("text")).as("lang_guess"),
                T.qualityScore(col("text")).as("quality"),
                T.tokenCount(col("text")).cast("long").as("n_tokens"),
                T.fingerprint(col("text")).as("fp"))
        .filter(col("lang_guess") === "en" && col("quality") >= 0.3 &&
                col("n_tokens").between(5, 1000))
        .persist()
      val keep = d.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      val bucket = conv(substring(
        md5(concat(lit("split:"), col("doc_id"))), 1, 4), 16, 10)
        .cast("long") % 100
      d.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .select(col("doc_id"), col("quality"), col("n_tokens"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // X73 — IVF ANN on the hash-gated surface, via the bracketing trick
    // (x15's pattern): with nprobe = nlist every cell is probed, so the
    // IVF pipeline — sample-fit KMeans quantizer, labeling pass, probe
    // ranking, within-cell brute force — MUST reproduce the exact
    // brute-force top-k whatever the clustering did; the oracle is the
    // same SQL as x09's. That turns "recall at full probe = 1.0" from a
    // spec claim into a per-round cross-engine gate (and it holds no
    // matter how MLlib's KMeans seeds or iterates, so the oracle needs
    // no centroid knowledge). Production sets nprobe << nlist and writes
    // the corpus partitioned by cell; the quantizer is fit on a
    // deterministic quarter sample (fitSampleBuckets=64) — the 100 TB
    // shape where only the labeling pass reads every row.
    "x73_ivf_search" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val idx = graft.operators.IvfSearch.build(e, nlist = 16,
        fitSampleBuckets = 64)
      graft.operators.IvfSearch.search(idx, e.filter(col("vec_id") < 5),
          k = 3, nprobe = 16)
        .select(col("qid"), col("rank"), col("nid"),
                round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X75 — quality-vs-token-budget curve: "where must the quality bar
    // sit to keep 25 / 50 / 75% of the corpus tokens?" — the question a
    // curation run answers BEFORE committing a threshold, here exact
    // instead of eyeballed from a sampled histogram. The doc stream
    // collapses to the (quality×10⁴, tokens, docs) domain; the three
    // cutoffs are weighted rank selections on the DESCENDING quality
    // order (negated key) via `PrefixSumOps.selectRanks` — only
    // boundary-carrying ranges are ever shuffled or windowed, never a
    // global sort (q104/q106's machinery on its second real workload);
    // the ≥-cutoff totals are one broadcast of 3 cutoff rows against the
    // collapsed domain. Integer end-to-end: quality is 4-dp by
    // construction, so ×10⁴ is exact.
    "x75_quality_budget" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(round(T.qualityScore(col("text")) * 10000).cast("long")
                  .as("q"),
                size(T.words(col("text"))).cast("long").as("toks"))
      val vc = d.groupBy(col("q"))
        .agg(sum(col("toks")).as("toks"), count(lit(1)).as("docs"))
        .withColumn("nq", -col("q"))
      val cuts = graft.ops.PrefixSumOps.selectRanks(
          vc.select(col("nq"), col("toks")), Nil, "nq", "toks",
          array(expr("(_tot * 25 + 99) DIV 100"),
                expr("(_tot * 50 + 99) DIV 100"),
                expr("(_tot * 75 + 99) DIV 100")))
        .select(((col("_ri") + 1) * 25).cast("long").as("target_pct"),
                (-col("nq")).as("cutoff_q"))
      vc.crossJoin(broadcast(cuts))
        .filter(col("q") >= col("cutoff_q"))
        .groupBy(col("target_pct"), col("cutoff_q"))
        .agg(sum(col("toks")).as("toks_ge"), sum(col("docs")).as("docs_ge"))
        .orderBy(col("target_pct"))
    }),

    // X154 — per-source quality tertiles (CCNet's head/middle/tail
    // device): each SOURCE gets its own exact tertile cutoffs over the
    // quality score, so a global bar can't silently empty a
    // low-scoring domain — the per-domain calibration that keeps the
    // training mixture diverse under quality filtering. x75 answers the
    // GLOBAL budget question; this is the grouped form: cutoffs = the
    // largest q whose top-down doc count reaches ⌈tot/3⌉ and ⌈2·tot/3⌉
    // per source (ties keep the whole equal-q run in one bucket —
    // boundary buckets may exceed a third, the standard tie semantics).
    // Dataflow: the doc stream collapses to the (source, q) domain,
    // `PrefixSumOps.selectRanks` runs GROUPED (only rank-carrying
    // ranges shuffle — never a per-source global sort), and the
    // |sources|-row cutoff table broadcasts back onto every doc. The
    // per-doc bucket is in the hash, so the calibration decision is
    // audited end to end.
    "x154_quality_tertiles" -> ((s, dir) =>
      graft.ops.QualityOps.scoreTertiles(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              round(T.qualityScore(col("text")) * 10000).cast("long")
                .as("q")),
          "q", "source")
        .select(col("doc_id"), col("source"), col("q"), col("bucket"))
        .orderBy(col("doc_id"))),

    // X78 — MinHash sketch-quality audit: estimated vs EXACT Jaccard,
    // per pair, in integer thousandths. est = matching signature
    // components / k; exact = |∩|/|∪| over the distinct 3-shingle sets.
    // Everything is md5-deterministic, so the audit is hash-checkable —
    // not a statistical test but the measured error surface this corpus
    // actually gets from k=8, which is what you consult before choosing
    // band counts for x06/x16 (more components ⇒ smaller err at linear
    // signature cost). Audited pairs cover BOTH error regimes:
    // adjacent-id pairs (the x08 frame — background, low-Jaccard mass,
    // O(N) map-side) plus the exact >= 1/2 near-dup pairs from
    // SetSimJoin, where underestimation is what LSH recall would pay
    // for. Pair generation is the already-bounded q111 dataflow; the
    // audit itself is two keyed joins against the signature frame.
    "x78_minhash_error" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          graft.functions.expr.MinHashSigMd5(col("_w"), 3, 8).as("sig"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val near = graft.operators.SetSimJoin
        .join(d.select(col("doc_id"), col("sh")), "doc_id", "sh", 1, 2)
      minhashErrorAudit(d, near)
    }),

    // X152 — x78's MinHash error audit under candidate GOVERNANCE: x78's
    // near-dup pair source is q111's exact set-sim join, which the r13
    // probe measured at ~37× for 10× data on the closed-vocabulary
    // corpus — x78 INHERITS q111's documented fixture degeneracy
    // (SCALING.md r11: every shingle's df grows linearly, the prefix
    // filter stops pruning). This is the x124 governed twin applied to
    // the audit: the near-dup arm is the df-capped join (jac ≥ ½ AND a
    // shared shingle with df ≤ 8 — candidates bounded by cap·Σdf, linear
    // at any df distribution), so the audit keeps its purpose — the
    // near-dup error regime LSH recall pays for is exactly the
    // rare-evidence pairs the cap keeps — at a linear cost the isotropic
    // fixture cannot inflate. Adjacent-id background pairs unchanged.
    "x152_minhash_error_governed" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          graft.functions.expr.MinHashSigMd5(col("_w"), 3, 8).as("sig"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val near = graft.operators.SetSimJoin
        .joinCapped(d.select(col("doc_id"), col("sh")), "doc_id", "sh",
                    1, 2, dfCap = 8L)
      minhashErrorAudit(d, near)
    }),

    // X79 — LSH band-configuration tuning census: for each (bands,
    // rows_per_band) split of the SAME k=8 signature, the candidate
    // join cost (Σ n·(n−1)/2 over band buckets — the pairs the banded
    // equi-join would emit) against the recall of the EXACT ≥ ½
    // near-dup truth set (SetSimJoin, zero-miss by theorem). More rows
    // per band ⇒ fewer, tighter buckets ⇒ cheaper joins and lower
    // recall; this is the table that choice gets made from, computed on
    // the corpus itself rather than assumed from the S-curve formula.
    // All counting is integer and md5-deterministic; cost comes from
    // bucket SIZES (one keyed agg per config), never from materializing
    // candidate pairs. SINGLE-PASS census: the (bands, rows_per_band)
    // configurations are a literal exploded DIMENSION of one banded
    // frame, not per-config query branches — the signature frame is
    // banded once (one narrow pass, persisted), cost is ONE keyed agg
    // over (config, band, key), and recall is ONE pair of joins keyed by
    // (doc, config). A config with no banded docs or an empty truth set
    // still emits its row via the left join onto the literal config
    // frame (coalesced zero counts, NULL recall), exactly as the
    // per-branch coalesce(sum, 0) did.
    "x79_lsh_tuning" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          graft.functions.expr.MinHashSigMd5(col("_w"), 3, 8).as("sig"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val truth = graft.operators.SetSimJoin
        .join(d.select(col("doc_id"), col("sh")), "doc_id", "sh", 1, 2)
        .select(col("id_a"), col("id_b")).persist()
      // docs with <3 words have no shingles and an all-NULL signature;
      // banding would map every one of them to the md5("") band key, so
      // each degenerate PAIR would count as an LSH candidate a real LSH
      // join should never emit — drop them before banding (the truth
      // set can't contain them: an empty set joins nothing)
      val cfgs = array(LshConfigs.map { case (nb, r) =>
        struct(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"))
      }: _*)
      // column-parameterized twin of T.lshBands (same key: md5 of the
      // '|'-joined r-slice; sig elements are never null past the filter,
      // so array_join ≡ concat_ws)
      val withBands = d.filter(size(col("sh")) > 0)
        .select(col("doc_id"), explode(cfgs).as("c"), col("sig"))
        .select(col("doc_id"), col("c.bands").as("bands"),
                col("c.rows_per_band").as("rows_per_band"),
                expr("""transform(sequence(0, cast(bands as int) - 1), b ->
                          md5(cast(array_join(
                                slice(sig, b * cast(rows_per_band as int) + 1,
                                      cast(rows_per_band as int)),
                                '|') as binary)))""").as("bs"))
        .persist()
      val cost = withBands
        .select(col("bands"), col("rows_per_band"),
                posexplode(col("bs")).as(Seq("bi", "bk")))
        .groupBy(col("bands"), col("rows_per_band"), col("bi"), col("bk"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("bands"), col("rows_per_band"))
        .agg(sum(expr("n * (n - 1) DIV 2")).as("cand_pairs"))
      val found = truth
        .join(withBands.select(col("doc_id").as("id_a"), col("bands"),
                               col("rows_per_band"), col("bs").as("ba")),
              Seq("id_a"))
        .join(withBands.select(col("doc_id").as("id_b"), col("bands"),
                               col("rows_per_band"), col("bs").as("bb")),
              Seq("id_b", "bands", "rows_per_band"))
        .groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("true_pairs"),
             sum(when(expr(
                 """size(filter(zip_with(ba, bb, (x, y) -> x = y),
                      m -> m)) > 0"""), 1L).otherwise(0L)).as("found"))
      LshConfigs.map { case (nb, r) => (nb.toLong, r.toLong) }
        .toDF("bands", "rows_per_band")
        .join(cost, Seq("bands", "rows_per_band"), "left")
        .join(found, Seq("bands", "rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"),
                coalesce(col("cand_pairs"), lit(0L)).as("cand_pairs"),
                coalesce(col("true_pairs"), lit(0L)).as("true_pairs"),
                coalesce(col("found"), lit(0L)).as("found"),
                when(coalesce(col("true_pairs"), lit(0L)) > 0,
                     expr("(1000 * found) DIV true_pairs"))
                  .as("recall_x1000"))
        .orderBy(col("bands").desc)
    }),

    // X119 — TIME-WINDOWED near-dup (dedup HORIZON): near-dup pairs are
    // only sought within a ±3-day ingest window — the bounded-state form
    // of corpus dedup (what a production pipeline actually runs once the
    // corpus outgrows all-history comparison; the batch twin of a
    // watermarked streaming dedup). Candidates ride the banded equi-join
    // with a coarse time-cell key (q29's range-cell device fused into the
    // LSH join — [[graft.operators.DedupOperators.windowedMinhashCandidates]]);
    // verification is the exact ≥½ Jaccard on candidate pairs only. The
    // ingest day is derived deterministically (doc_id div 50 — the x71
    // fixture device) so the oracle can restate the window exactly; the
    // oracle regenerates candidates from the SAME md5 bands (banded LSH
    // is deterministic, so candidate parity is part of the check) plus
    // the |Δday| gate, re-proving the cell join neither missed nor
    // fabricated a pair.
    "x119_windowed_neardup" -> ((s, dir) => {
      val w = 3L
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), expr("doc_id div 50").as("day"), col("text"))
      val cands = graft.operators.DedupOperators
        .windowedMinhashCandidates(d, "doc_id", "text", "day", w)
      // STAGED projections (the x79/x86 device): naming _w in its own
      // select keeps the tokenize subtree single-evaluated — composing
      // shinglesFromWords(T.words(…)) inline re-runs the split per
      // lambda reference (measured 7 s → ~1 s for this frame at sf0.1)
      val sh = d
        .select(col("doc_id"), col("day"), T.words(col("text")).as("_w"))
        .filter(size(col("_w")) >= 3)
        .select(col("doc_id"), col("day"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      cands
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
                        col("day").as("day_a")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
                        col("day").as("day_b")), Seq("id_b"))
        .withColumn("inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("uni",
          size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
        .filter(col("inter") * 2 >= col("uni"))
        .select(col("id_a"), col("id_b"),
                expr("(1000 * inter) DIV uni").as("jac_x1000"),
                abs(col("day_a") - col("day_b")).as("day_gap"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X81 — Count-Min sketch AS A TABLE: the frequency sketch that backs
    // per-token frequency estimation at corpus scale without ever keying
    // an exchange by token. Every occurrence updates d=4 md5-derived
    // buckets; the sketch is the (r, b, cnt) relation — d·w = 2048 rows
    // after the keyed agg, so the exchange is O(d·w), not O(vocab), and
    // two sketch tables merge by unionAll + re-sum (the CMS merge
    // closure — the same shape x68 proves for exact counts). Estimates
    // (min over the d probed cells) are md5-deterministic, so the oracle
    // checks the estimate VALUES, not just an error bound: est ≥ exact
    // is the CMS theorem, and the observed over-count is emitted for
    // audit. Probes use the top-20 exact tokens; the exact vocab agg
    // exists here only as that audit truth — production reads the
    // 2048-row sketch alone.
    "x81_cms_freq" -> ((s, dir) => {
      val w = 512
      def bucket(r: Int, tok: Column): Column =
        conv(substring(md5(concat_ws(":", lit(r), tok)), 1, 8), 16, 10)
          .cast("long") % w
      def probes(tok: Column): Column =
        explode(array((0 until 4).map(r =>
          struct(lit(r.toLong).as("r"), bucket(r, tok).as("b"))): _*))
      val toks = Tables(s, dir, "documents")
        .select(explode(T.words(col("text"))).as("tok")).persist()
      val sketch = toks.select(probes(col("tok")).as("p"))
        .groupBy(col("p.r").as("r"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val topk = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
      topk.select(col("tok"), col("exact_n"), probes(col("tok")).as("p"))
        .join(broadcast(sketch),
          col("p.r") === sketch("r") && col("p.b") === sketch("b"))
        .groupBy(col("tok"), col("exact_n"))
        .agg(min(col("cnt")).as("cms_est"))
        .select(col("tok"), col("exact_n"), col("cms_est"),
                (col("cms_est") - col("exact_n")).as("over_n"))
        .orderBy(col("tok"))
    }),

    // X82 — corpus-level source similarity: pairwise Jaccard between
    // SOURCES, estimated from per-source MinHash UNION sketches — the
    // statistic a mixture/dedup plan consults before any doc-level work
    // ("how much of src7 overlaps src3?"). The union closure is the
    // point: sketch(source) = elementwise min over its docs' k=8 md5
    // signatures, so source sketches compose from the per-doc sketches a
    // production corpus already persists (x16's index) — one tiny keyed
    // agg, no second pass over text. Pairings are sources² over a frame
    // of |sources| rows — broadcast-trivial at any corpus size. The
    // exact Jaccard over distinct shingle sets rides along as the audit
    // truth (the shingle-keyed join the sketch path exists to avoid);
    // both est and exact are md5/integer-deterministic, so the oracle
    // checks values, and the observed |error| is emitted per pair.
    "x82_source_jaccard" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("source"), T.words(col("text")).as("_w"))
        .select(col("source"),
          graft.functions.expr.MinHashSigMd5(col("_w"), 3, 8).as("sig"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val srcSig = d.groupBy(col("source"))
        .agg(min(col("sig")(0)).as("m0"),
             (1 until 8).map(i => min(col("sig")(i)).as(s"m$i")): _*)
      val srcSh = d.select(col("source"), explode(col("sh")).as("g"))
        .distinct().persist()
      val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
      val inter = srcSh.select(col("source").as("src_a"), col("g"))
        .join(srcSh.select(col("source").as("src_b"), col("g")), Seq("g"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("inter"))
      val a = srcSig.select(col("source").as("src_a") +:
        (0 until 8).map(i => col(s"m$i").as(s"a$i")): _*)
      val b = srcSig.select(col("source").as("src_b") +:
        (0 until 8).map(i => col(s"m$i").as(s"b$i")): _*)
      // null components (a source whose every doc is sub-shingle-width)
      // never count as a match: === is null there and when() falls
      // through to 0 — mirrored by the oracle's CASE WHEN a = b
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (0 until 8).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("matches"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
                                     col("nsh").as("na"))), Seq("src_a"), "left")
        .join(broadcast(sizes.select(col("source").as("src_b"),
                                     col("nsh").as("nb"))), Seq("src_b"), "left")
        .join(broadcast(inter), Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          expr("(1000 * matches) DIV 8").as("est_x1000"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))
            - coalesce(col("inter"), lit(0L))).as("uni"))
        .withColumn("jac_x1000",
          when(col("uni") > 0, expr("(1000 * inter) DIV uni")))
        .withColumn("abs_err_x1000",
          when(col("uni") > 0, abs(col("est_x1000") - col("jac_x1000"))))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // X86 — containment (subsumption) detection: which corpus documents
    // fully CONTAIN a probe's shingle set — the dedup mode similarity
    // thresholds cannot express (a clip of a long page has Jaccard ≈ 0
    // against its source). Probes are derived excerpts (first 15 words
    // of every doc_id % 7 = 2 doc — the x71 derive-the-second-frame
    // idiom, so the oracle can state the expected hits exactly: every
    // probe is contained at least in its own source). Candidates come
    // from ONE equi-join of each probe's rarest corpus element against
    // the postings ([[ContainmentJoin]]'s zero-miss theorem); the
    // DuckDB twin generates candidates from ANY shared element, so
    // parity re-proves the pruning dropped nothing.
    "x86_containment_join" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      // persist the shingled frames: the operator consumes the corpus on
      // THREE branches (df count, candidate postings, verify fetch) and
      // the probes on two — without the cache each branch re-runs the
      // interpreted HOF shingling over the full text (the exact cost
      // MinHashSigMd5 exists to kill; measured 29 s → ~2 s at sf0.1)
      val corpus = d
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val probes = d.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), slice(T.words(col("text")), 1, 15).as("_w"))
        .select(col("doc_id"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      graft.operators.ContainmentJoin.join(probes, corpus, "doc_id", "sh")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X90 — τ-PARTIAL containment: x86 with edits. The probes are the
    // same first-15-word excerpts but with the 5th word REPLACED — one
    // edit corrupts the 3 shingles that cross it, so containment drops
    // to ~10/13 and STRICT subsumption (x86) finds nothing, which is
    // precisely the recall gap τ-containment closes ("this doc is
    // ≥ 70% a clip of that one"). Candidates come from the pigeonhole
    // prefix — each probe's ⌊(1−τ)|A|⌋+1 rarest corpus elements — so
    // edited excerpts still hit their source through any surviving
    // rare shingle; the DuckDB twin generates candidates from ANY
    // shared element, re-proving the prefix dropped nothing.
    "x90_partial_containment" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val corpus = d
        .select(col("doc_id"), T.words(col("text")).as("_w"))
        .select(col("doc_id"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      val probes = d.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), transform(
          slice(T.words(col("text")), 1, 15),
          (x, i) => when(i === 4, lit("zqx")).otherwise(x)).as("_w"))
        .select(col("doc_id"),
          array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
        .persist()
      graft.operators.ContainmentJoin
        .joinPartial(probes, corpus, "doc_id", "sh", 7, 10)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X91 — INCREMENTAL sketch maintenance: merge a new batch's CMS
    // into the persisted corpus sketch WITHOUT re-scanning the corpus —
    // the sketch twin of x68's incremental vocabulary. The
    // "persisted" side is derived in-query (doc_id % 10 ≠ 0, the x68
    // device) so the oracle can assert the property that makes the
    // pattern sound: base ⊎ batch merged by unionAll + re-sum must
    // equal the full-corpus sketch CELL FOR CELL — CMS is a linear
    // sketch, so the identity is exact, not approximate. Output is the
    // audit row a production merge job would log: cells touched,
    // total mass (= token occurrences, conserved by the merge), and
    // the count of cells where merge ≠ recompute (pinned 0 by the
    // oracle). Exchanges carry O(d·w) cells; the corpus text is read
    // once per side.
    "x91_cms_incremental" -> ((s, dir) => {
      val w = 512
      def bucket(r: Int, tok: Column): Column =
        conv(substring(md5(concat_ws(":", lit(r), tok)), 1, 8), 16, 10)
          .cast("long") % w
      def probes(tok: Column): Column =
        explode(array((0 until 4).map(r =>
          struct(lit(r.toLong).as("r"), bucket(r, tok).as("b"))): _*))
      def sketch(docs: DataFrame): DataFrame = docs
        .select(explode(T.words(col("text"))).as("tok"))
        .select(probes(col("tok")).as("p"))
        .groupBy(col("p.r").as("r"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val d = Tables(s, dir, "documents").persist()
      val merged = sketch(d.filter(col("doc_id") % 10 =!= 0))
        .unionByName(sketch(d.filter(col("doc_id") % 10 === 0)))
        .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))
      val full = sketch(d)
      merged.join(full.select(col("r"), col("b"),
          col("cnt").as("cnt_full")), Seq("r", "b"), "full")
        .agg(count(lit(1)).as("n_cells"),
             coalesce(sum(col("cnt")), lit(0L)).as("mass"),
             sum(when(col("cnt") <=> col("cnt_full"), 0L).otherwise(1L))
               .as("n_diverged"))
    }),

    // X93 — JOIN-SIZE ESTIMATION from sketch inner products: the AQE-style
    // planner statistic |R ⋈ S| = Σ_k f_R(k)·f_S(k), estimated WITHOUT
    // executing the join from the two relations' CMS tables (x81's
    // persisted form). Per depth row r the estimate is the cell-wise inner
    // product Σ_b cms_R[r][b]·cms_S[r][b]; the final estimate is the min
    // over the d rows, and est ≥ exact is the Cormode–Muthukrishnan
    // inner-product theorem — hash collisions only ever ADD mass. Both
    // sketches are md5-deterministic, so the oracle reproduces the
    // ESTIMATE bit-for-bit and the exact join size rides along as the
    // audit truth (the join the sketch path exists to avoid). At 100 TB
    // the decision "can this join broadcast / will it explode" costs two
    // O(d·w) = 2048-cell frames — data never moves, and the sketches are
    // the persisted per-relation artifacts a lakehouse stats job already
    // maintains (b04 economics).
    "x93_cms_joinsize" -> ((s, dir) => {
      val w = 512
      def bucket(r: Int, k: Column): Column =
        conv(substring(md5(concat_ws(":", lit(r), k)), 1, 8), 16, 10)
          .cast("long") % w
      def probes(k: Column): Column =
        explode(array((0 until 4).map(r =>
          struct(lit(r.toLong).as("r"), bucket(r, k).as("b"))): _*))
      def sketch(keys: DataFrame, cnt: String): DataFrame = keys
        .select(probes(col("k")).as("p"))
        .groupBy(col("p.r").as("r"), col("p.b").as("b"))
        .agg(count(lit(1)).as(cnt))
      val ev = Tables(s, dir, "events")
        .select(col("user_id").cast("string").as("k"))
      val od = Tables(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("k"))
      val est = sketch(ev, "ca").join(sketch(od, "cb"), Seq("r", "b"))
        .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("ip"))
        .agg(min(col("ip")).as("est_join"))
      val exact = ev.join(od, Seq("k"))
        .agg(count(lit(1)).as("exact_join"))
      est.crossJoin(exact)
        .select(col("est_join"), col("exact_join"),
                (col("est_join") - col("exact_join")).as("over_n"))
    }),

    // X106 — JOIN-ORDER ADVISOR from the relations' own sketches: x93's
    // single estimate turned into the planning artifact — every pairwise
    // join size among (events.user_id, orders.o_custkey,
    // customer.c_custkey) estimated from three 2048-cell CMS tables and
    // RANKED, which is exactly the input a cost-based join reorder or a
    // broadcast decision consumes. Data never moves for the estimates
    // (three O(d·w) sketch frames, pairwise cell products); the exact
    // join sizes ride along as audit truth and est ≥ exact holds per
    // pair by the inner-product theorem. Ranking ties break by the pair
    // name, so the advisor's ORDER itself is hash-checked — the oracle
    // must reproduce not just the numbers but the decision.
    "x106_join_planner" -> ((s, dir) => {
      val w = 512
      def bucket(r: Int, k: Column): Column =
        conv(substring(md5(concat_ws(":", lit(r), k)), 1, 8), 16, 10)
          .cast("long") % w
      def probes(k: Column): Column =
        explode(array((0 until 4).map(r =>
          struct(lit(r.toLong).as("r"), bucket(r, k).as("b"))): _*))
      def sketch(keys: DataFrame, cnt: String): DataFrame = keys
        .select(probes(col("k")).as("p"))
        .groupBy(col("p.r").as("r"), col("p.b").as("b"))
        .agg(count(lit(1)).as(cnt))
      val rels: Seq[(String, DataFrame)] = Seq(
        "events" -> Tables(s, dir, "events")
          .select(col("user_id").cast("string").as("k")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_custkey").cast("string").as("k")),
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey").cast("string").as("k")))
      val pairs = for {
        (na, da) <- rels; (nb, db) <- rels if na < nb
      } yield {
        val est = sketch(da, "ca").join(sketch(db, "cb"), Seq("r", "b"))
          .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("ip"))
          .agg(min(col("ip")).as("est_join"))
        val exact = da.join(db, Seq("k"))
          .agg(count(lit(1)).as("exact_join"))
        est.crossJoin(exact)
          .select(lit(s"$na-$nb").as("pair"), col("est_join"),
                  col("exact_join"))
      }
      val all = pairs.reduce(_ unionByName _)
      val byEst = Window.orderBy(col("est_join"), col("pair"))
      all
        .withColumn("rank", row_number().over(byEst).cast("long"))
        .select(col("rank"), col("pair"), col("est_join"),
                col("exact_join"),
                (col("est_join") - col("exact_join")).as("over_n"))
        .orderBy(col("rank"))
    }),

    // X122 — ADVISOR-ORDERED join GRAPH: b02's revenue chain (lineitem →
    // orders → customer → nation, a DIFFERENT key per edge) planned by
    // [[graft.ops.JoinAdvisorOps.adviseGraph]] and executed by
    // [[graft.ops.JoinAdvisorOps.executeChain]] — the heterogeneous-key
    // consumer b07/b09's shared-key clique could not express, and the
    // first user-facing pipeline shape (a star-schema rollup) that
    // consults the advisor. Each edge is estimated from two 2048-cell
    // CMS sketches on that edge's own key; the greedy order (min-est
    // edge opens, min-link extension, ties by name) is re-derived by the
    // oracle from the same formulas, so hash parity proves the DECISION;
    // the revenue rows equal b02's exactly — order changes cost, never
    // results. Only driver values: |edges| = 3 pair estimates (one
    // certified-small collect).
    "x122_advised_revenue" -> ((s, dir) => {
      import graft.ops.JoinAdvisorOps
      import graft.ops.JoinAdvisorOps.JoinEdge
      def cents(c: Column) = round(c * 100).cast("long")
      val rels: Map[String, DataFrame] = Map(
        "lineitem" -> Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), cents(col("l_extendedprice")).as("_ep"),
                  cents(col("l_discount")).as("_dc")),
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
      val advice = JoinAdvisorOps.adviseGraph(rels, edges)
      val order = advice.greedyOrder(rels.keys.toSeq.sorted)
      JoinAdvisorOps.executeChain(rels, edges, order)
        .groupBy(col("n_name"))
        .agg(sum(col("_ep") * (lit(100L) - col("_dc")))
               .as("revenue_cents_x100"),
             count(lit(1)).as("n_items"))
        .withColumn("greedy_order", lit(order.mkString("-")))
        .orderBy(col("n_name"))
    }),

    // X108 — DETERMINISTIC APPROXIMATE QUERY PROCESSING: a group-by
    // answered from the x97 systematic-PPS sample instead of the fact
    // table. Orders are sampled probability-proportional-to-price (the
    // cumulative-cents line walked every `step = totW div 100` cents, no
    // RNG — both engines derive the identical sample), and the
    // per-priority revenue is ESTIMATED as step·Σmult: each anchor hit
    // stands for exactly `step` cents of the line, so the estimator is
    // pure integer and cross-engine exact even though it is approximate
    // w.r.t. the true total. The count estimate is the Horvitz–Thompson
    // read (mult·step div w ≈ units represented). Exact per-group totals
    // ride along as audit with an integer err_permille — the error the
    // sample size buys, measured, not assumed. At 100 TB the sample
    // (id, w, mult) is a persisted artifact refreshed with the
    // prefix-sum pass; every dashboard group-by then reads |sample| rows
    // (b04's steady-state economics applied to AQP); here it is derived
    // inline so the oracle can check the whole dataflow.
    "x108_aqp_sample" -> ((s, dir) => {
      val n = 100
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("id"),
                col("o_orderpriority").as("prio"),
                round(col("o_totalprice") * 100).cast("long").as("w"))
      val sel = graft.ops.PrefixSumOps
        .runningSum(o, Seq(), "id", "w", "cum_w", "tot_w")
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
      val est = sel.groupBy(col("prio"))
        .agg(sum(col("mult")).as("n_sampled"),
             sum(col("mult") * col("step")).as("est_cents"),
             sum(expr("(mult * step + w DIV 2) div w")).as("est_n"))
      val exact = o.groupBy(col("prio"))
        .agg(count(lit(1)).as("exact_n"), sum(col("w")).as("exact_cents"))
      est.join(broadcast(exact), Seq("prio"))
        .select(col("prio"), col("n_sampled"),
                col("est_cents"), col("exact_cents"),
                expr("abs(est_cents - exact_cents) * 1000 div exact_cents")
                  .as("err_permille"),
                col("est_n"), col("exact_n"))
        .orderBy(col("prio"))
    }),

    // X109 — HIERARCHY ROLLUP (org chart / category tree): every node's
    // root and depth plus per-tree aggregates, from a parent relation.
    // The fixture derives a deterministic forest over customers
    // (parent = custkey div 10; keys are contiguous so every parent
    // exists; custkey < 10 ⇒ root). Resolution is
    // [[graft.ops.GraphOps.rootAndDepth]] pointer doubling — ⌈log₂ h⌉
    // keyed self-joins, so a depth-1000 bill-of-materials costs ~10
    // rounds where row-at-a-time recursion (the oracle's recursive CTE,
    // and what SQL engines actually run) walks 1000 levels. Tree
    // aggregates are one keyed agg over root labels, then a
    // roots-sized broadcast back onto the nodes.
    "x109_hierarchy_rollup" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey").as("node"),
                round(col("c_acctbal") * 100).cast("long").as("cents"))
      val par = c.select(col("node"),
        when(col("node") >= 10, expr("node div 10")).as("parent"))
      val rd = graft.ops.GraphOps.rootAndDepth(par)
      val trees = rd.join(c, Seq("node"))
        .groupBy(col("root"))
        .agg(count(lit(1)).as("tree_n"),
             sum(col("cents")).as("tree_cents"),
             max(col("depth")).as("tree_depth"))
      rd.join(broadcast(trees), Seq("root"))
        .select(col("node"), col("root"), col("depth"),
                col("tree_n"), col("tree_cents"), col("tree_depth"))
        .orderBy(col("node"))
    }),

    // X120 — K-CORE community mining over the CO-PURCHASE graph: parts
    // co-ordered in ≥2 distinct orders form edges; the 2-core strips
    // every pendant chain and tree, leaving the cyclic/dense product
    // communities — the degeneracy peel a web-graph curation pipeline
    // runs to separate structure from noise. Resolution is
    // [[graft.ops.GraphOps.kCore]]: one job per peel round, edge frame
    // monotonically shrinking, loud on a blown round bound. The oracle
    // unrolls 16 MATERIALIZED peel rounds (observed fixpoint ≤ 6 across
    // sf0.001–0.1; extra rounds are idempotent no-ops, so the unroll
    // equals the engine's fixpoint), so merge ≡ recompute of the whole
    // iterative computation is what hash parity proves.
    "x120_kcore" -> ((s, dir) => {
      val lp = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val edges = lp.select(col("ok"), col("p").as("src"))
        .join(lp.select(col("ok"), col("p").as("dst")), Seq("ok"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("m"))
        .filter(col("m") >= 2)
        .select(col("src"), col("dst"))
      graft.ops.GraphOps.kCore(edges, k = 2)
        .orderBy(col("node"))
    }),

    // X111 — BUCKET-DIGEST RECONCILIATION: compare two table snapshots
    // by 64 per-bucket digests first, row-level only where digests
    // disagree — the anti-entropy shape for "did the replica drift?"
    // across regions, where shipping row fingerprints (x71) is already
    // too much. Digest = Σ of each row's 48-bit md5 fingerprint per
    // doc_id%64 bucket: ORDER-FREE (a sum commutes, so partial aggs and
    // any partitioning give the identical digest) and integer — both
    // engines compute it bit-equal. Matching buckets cost 64 rows per
    // side on the wire, period; only mismatched buckets pay a row-level
    // full-outer diff, gated by a ≤64-row broadcast semi join. The sum
    // is the WRAPPED mod-2⁶⁴ digest (DigestFunctions.digestSum, decimal
    // accumulation + two's-complement wrap, same formula in the
    // oracle) — well-defined at any per-bucket cardinality, where a
    // plain long sum would hit ANSI overflow at ~2¹⁵ rows. A digest
    // COLLISION would mark a drifted bucket clean — astronomically
    // unlikely at 48 bits, and the same on both engines, so parity is
    // unaffected; the detail columns are attributed adds/removes/edits
    // per dirty bucket. Old snapshot derived deterministically (x71's
    // fixture) so the oracle states the expectation exactly.
    "x111_digest_reconcile" -> ((s, dir) => {
      val cur = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = cur.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, substring(col("text"), 1, 40))
            .otherwise(col("text")).as("text"))
        .unionByName(cur.filter(col("doc_id") % 19 === 7)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
                  upper(substring(col("text"), 1, 20)).as("text")))
      def fp(df: DataFrame): DataFrame = df.select(col("doc_id"),
        pmod(col("doc_id"), lit(64L)).as("bucket"),
        conv(substring(md5(concat_ws(":", col("doc_id"), col("text"))
          .cast("binary")), 1, 12), 16, 10).cast("long").as("f"))
      val dOld = fp(old).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_old"),
             graft.functions.DigestFunctions.digestSum(col("f")).as("d_old"))
      val dCur = fp(cur).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_cur"),
             graft.functions.DigestFunctions.digestSum(col("f")).as("d_cur"))
      // 64-row frame consumed three times (bad gate ×2, final join) —
      // persist so the digest aggregation over the snapshots runs once
      val dig = dOld.join(dCur, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"),
          (coalesce(col("d_old"), lit(0L)) <=> coalesce(col("d_cur"), lit(0L))
            && coalesce(col("n_old"), lit(0L)) <=> coalesce(col("n_cur"), lit(0L)))
            .as("digest_match"))
        .persist()
      val bad = dig.filter(!col("digest_match")).select(col("bucket"))
      val o2 = fp(old).join(broadcast(bad), Seq("bucket"), "left_semi")
      val c2 = fp(cur).join(broadcast(bad), Seq("bucket"), "left_semi")
      // full-outer can't broadcast; shuffle_hash keeps the (data-sized
      // in the worst case) gated diff arm sort-free
      val diff = o2.select(col("doc_id"), col("bucket"), col("f").as("f_o"))
        .hint("shuffle_hash")
        .join(c2.select(col("doc_id"), col("f").as("f_n")),
              Seq("doc_id"), "full_outer")
        .withColumn("bucket",
          coalesce(col("bucket"), pmod(col("doc_id"), lit(64L))))
        .groupBy(col("bucket"))
        .agg(sum(when(col("f_o").isNull, 1L).otherwise(0L)).as("n_added"),
             sum(when(col("f_n").isNull, 1L).otherwise(0L)).as("n_removed"),
             sum(when(col("f_o").isNotNull && col("f_n").isNotNull &&
                      col("f_o") =!= col("f_n"), 1L).otherwise(0L))
               .as("n_changed"))
      dig.join(diff, Seq("bucket"), "left")
        .select(col("bucket"), col("n_old"), col("n_cur"),
                col("digest_match"),
                coalesce(col("n_added"), lit(0L)).as("n_added"),
                coalesce(col("n_removed"), lit(0L)).as("n_removed"),
                coalesce(col("n_changed"), lit(0L)).as("n_changed"))
        .orderBy(col("bucket"))
    }),

    // X116 — INCREMENTAL digest maintenance: x111's per-bucket digests
    // updated from a SIGNED CDC delta (m = +1 add / −1 remove; an edit
    // is remove-old + add-new) instead of rescanning the snapshot —
    // digest' = digest + Σ m·f and n' = n + Σ m, valid precisely
    // because the sum digest is commutative AND invertible (a merge
    // ring, not just merge-closed like the sketches). The delta here is
    // derived from the x111 fixture's own drift rules so the oracle can
    // RECOMPUTE the post-delta digests from the current snapshot
    // directly: hash parity is the merge ≡ recompute proof (the
    // x91/x103/b06 family, applied to anti-entropy state). This is how
    // a region keeps its published 64-row digest table current from its
    // ingest log — neither the history nor the snapshot is ever
    // rescanned.
    "x116_digest_incremental" -> ((s, dir) => {
      val cur = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = cur.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, substring(col("text"), 1, 40))
            .otherwise(col("text")).as("text"))
        .unionByName(cur.filter(col("doc_id") % 19 === 7)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
                  upper(substring(col("text"), 1, 20)).as("text")))
      def fp(df: DataFrame): DataFrame = df.select(
        pmod(col("doc_id"), lit(64L)).as("bucket"),
        conv(substring(md5(concat_ws(":", col("doc_id"), col("text"))
          .cast("binary")), 1, 12), 16, 10).cast("long").as("f"))
      // published state is the WRAPPED 64-bit digest (what a region
      // actually stores); the wrap is a ring homomorphism, so merging
      // wrapped state with a wrapped delta and re-wrapping equals the
      // wrapped digest of the merged multiset — overflow-proof at any
      // cardinality (DigestFunctions)
      val oldDig = fp(old).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             graft.functions.DigestFunctions.digestSum(col("f")).as("d"))
      // the signed delta, straight from the fixture's drift rules
      val delta =
        cur.filter(col("doc_id") % 17 === 3)
          .withColumn("m", lit(1L)) // docs absent from old: adds
        .unionByName(cur
          .filter(col("doc_id") % 13 === 5 && col("doc_id") % 17 =!= 3)
          .select(col("doc_id"),
                  substring(col("text"), 1, 40).as("text"))
          .withColumn("m", lit(-1L))) // edit: remove the old version
        .unionByName(cur
          .filter(col("doc_id") % 13 === 5 && col("doc_id") % 17 =!= 3)
          .withColumn("m", lit(1L))) // edit: add the new version
        .unionByName(cur.filter(col("doc_id") % 19 === 7)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
                  upper(substring(col("text"), 1, 20)).as("text"))
          .withColumn("m", lit(-1L))) // phantoms left the corpus
      val deltaDig = delta
        .select(pmod(col("doc_id"), lit(64L)).as("bucket"), col("m"),
          (col("m") * conv(substring(md5(concat_ws(":", col("doc_id"),
            col("text")).cast("binary")), 1, 12), 16, 10).cast("long"))
            .as("mf"))
        .groupBy(col("bucket"))
        .agg(sum(col("m")).as("dn"),
             graft.functions.DigestFunctions.digestSum(col("mf")).as("dd"))
      oldDig.join(deltaDig, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_docs"),
          graft.functions.DigestFunctions.wrap64(
            coalesce(col("d"), lit(0L)).cast("decimal(38,0)")
              + coalesce(col("dd"), lit(0L)).cast("decimal(38,0)"))
            .as("digest"))
        .filter(col("n_docs") > 0)
        .orderBy(col("bucket"))
    }),

    // X132 — mergeable quantile sketch (HdrHistogram's decimal device):
    // values collapse to 3-significant-digit buckets b = digits·1000 +
    // leading-three-digits — PURE INTEGER math, so the sketch is
    // cross-engine exact, mergeable by count addition (a groupBy — the
    // missing member of the CMS/KMV/HLL/SpaceSaving sketch family), and
    // bounded at ~9·900 buckets whatever N does. p50/p90/p99 come from
    // `PrefixSumOps.selectRanks` over the TINY bucket domain; the
    // estimate is the bucket's upper bound in cents, relative error
    // ≤ 1/m ≤ 1% by construction (QuantileSketchSpec audits it against
    // exact). The exact-quantile twin is q106: one sort-free census per
    // query; THIS is the shape that serves dashboards from pre-merged
    // per-partition counts without touching the fact table again.
    "x132_quantile_sketch" -> ((s, dir) => {
      import graft.ops.QuantileSketchOps
      val vc = Tables(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("_c"))
        .select(QuantileSketchOps.bucketOf(col("_c")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).cast("long").as("cnt"))
      graft.ops.PrefixSumOps.selectRanks(vc, Nil, "b", "cnt",
          array(expr("(_tot * 50 + 99) DIV 100"),
                expr("(_tot * 90 + 99) DIV 100"),
                expr("(_tot * 99 + 99) DIV 100")))
        .select(element_at(typedLit(Seq(50L, 90L, 99L)),
                  col("_ri").cast("int") + 1).as("p"),
                col("b"),
                QuantileSketchOps.upperBound(col("b")).as("est_cents"))
        .orderBy(col("p"))
    }),

    // X94 — KMV (k-minimum-values) distinct-cardinality algebra: per-source
    // distinct-token estimates plus UNION and INTERSECTION estimates for
    // every source pair, all from O(k)-state sketches. The sketch is the
    // k=64 smallest distinct 48-bit md5 hashes per source — maintained by
    // the merge-closed [[graft.functions.BottomKDistinctLongAggregator]]
    // (ObjectHashAggregate with map-side partials: each partition ships
    // ≤ k longs per source, never the token stream). Estimators are the
    // classic KMV/theta forms made INTEGER-EXACT so the oracle checks
    // values, not tolerance bands: est = (k−1)·2⁴⁸ div h_(k) when the
    // sketch saturates (exact = sketch size below that); union sketches
    // compose by merging the two lists and re-taking the bottom k;
    // intersection is the theta-sketch rule matches·est_union div k.
    // Exact distinct counts ride along as audit truth — at corpus scale
    // only the k-long sketches move, and source-pair math runs over a
    // |sources|-row broadcast frame.
    "x94_kmv_cardinality" -> ((s, dir) => {
      val k = 64
      val maxNum = (k - 1).toLong * (1L << 48) // (k−1)·2⁴⁸, < 2⁶³
      val bk = udaf(new graft.functions.BottomKDistinctLongAggregator(k),
                    org.apache.spark.sql.Encoders.scalaLong)
      val toks = Tables(s, dir, "documents")
        .select(col("source"), explode(T.words(col("text"))).as("tok"))
        .persist()
      def estOf(kmv: String): Column =
        when(size(col(kmv)) < k, size(col(kmv)).cast("long"))
          .otherwise(expr(s"${maxNum}L div element_at($kmv, $k)"))
      val kv = toks
        .select(col("source"),
          conv(substring(md5(concat(lit("kmv:"), col("tok"))), 1, 12), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("source")).agg(bk(col("h")).as("kmv"))
      val ex = toks.select(col("source"), col("tok")).distinct().persist()
      val sizes = ex.groupBy(col("source")).agg(count(lit(1)).as("nd"))
      val inter = ex.select(col("source").as("src_a"), col("tok"))
        .join(ex.select(col("source").as("src_b"), col("tok")), Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val a = kv.select(col("source").as("src_a"), col("kmv").as("kmv_a"))
      val b = kv.select(col("source").as("src_b"), col("kmv").as("kmv_b"))
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .withColumn("kmv_u",
          slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
        .withColumn("matches",
          size(array_intersect(array_intersect(col("kmv_u"), col("kmv_a")),
                               col("kmv_b"))).cast("long"))
        .withColumn("est_union", estOf("kmv_u"))
        .withColumn("est_inter",
          when(size(col("kmv_u")) < k, col("matches"))
            .otherwise(expr(s"(matches * est_union) div $k")))
        .join(broadcast(sizes.select(col("source").as("src_a"),
                                     col("nd").as("exact_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
                                     col("nd").as("exact_b"))), Seq("src_b"))
        .join(broadcast(inter), Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
                estOf("kmv_a").as("est_a"), estOf("kmv_b").as("est_b"),
                col("est_union"), col("est_inter"),
                col("exact_a"), col("exact_b"),
                (col("exact_a") + col("exact_b")
                  - coalesce(col("exact_inter"), lit(0L))).as("exact_union"),
                coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // X135 — k-anonymity by generalization-ladder suppression (global
    // recoding over residuals — every published group except the fully
    // suppressed residual has >= k RELEASED members; the local-recoding
    // shortcut of testing against full-population counts silently voids
    // that once a level's satisfied members are removed). Ladder:
    // (nation, segment, 1000-dollar balance band) -> drop band -> drop
    // segment -> '*'. Level, generalized value, and the published group
    // size are all in the hash — suppression is audited, never silent.
    "x135_k_anonymize" -> ((s, dir) => {
      val base = Tables(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("n"),
        col("c_mktsegment").as("seg"),
        // shift before the floor-div so the band arithmetic never sees a
        // negative operand (Spark div truncates, DuckDB // floors)
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) " +
             "div 100000").as("band"))
      graft.ops.PrivacyOps.kAnonymize(base, "id", Seq("n", "seg", "band"),
                                      k = 5L)
        .orderBy(col("id"))
    }),

    // X136 — Gopher-style INTRA-document repetition metrics (Rae et al.
    // 2021 §A1.1): duplicate-word count, most-frequent-bigram
    // multiplicity, duplicate-trigram count, and the repetitive flag
    // (top bigram > 9% of bigram instances — stated as an integer
    // cross-multiplication so the rule is FP-free). x42's segment dedup
    // is CROSS-document; this is the within-document quality rule family
    // that catches boilerplate loops and degenerate generations. One
    // codegen'd projection per doc — no explode, no shuffle (the
    // bigram-multiplicity fold is sort + longest-equal-run per row).
    "x136_doc_repetition" -> ((s, dir) =>
      T.docRepetition(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // X139 — distinct l-diversity on the x135 ladder (Machanavajjhala et
    // al. 2007): a group can be k-anonymous and still disclose its
    // sensitive attribute when all k members share one value (the
    // homogeneity attack). Here a residual group publishes only when it
    // has >= k released members AND >= l distinct sensitive values; the
    // market segment moves from quasi-identifier (x135) to SENSITIVE,
    // published per-record but protected by the diversity floor. Group
    // size AND diversity are in the hash — both guarantees audited.
    "x139_l_diversity" -> ((s, dir) => {
      val base = Tables(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("n"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) " +
             "div 100000").as("band"),
        col("c_mktsegment").as("seg"))
      graft.ops.PrivacyOps.lDiversify(base, "id", Seq("n", "band"), "seg",
                                      k = 5L, l = 3L)
        .orderBy(col("id"))
    }),

    // X140 — differentially private release counts via the geometric
    // mechanism (Ghosh et al. 2009; ε = ln 2): the third privacy regime —
    // x135/x139 bound re-identification of RECORDS, this bounds what the
    // released AGGREGATE reveals about any one record. The two-sided
    // geometric draw is derived from md5 trailing-zero algebra (pure
    // integer, P(tz=j) = 2^-(j+1) exactly), so the noise itself is
    // hash-checkable across engines — the property that lets the
    // mechanism be oracle-audited at all. true_n rides along as the
    // calibration audit view; the release view drops it.
    "x140_dp_counts" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("n"),
                col("c_mktsegment").as("seg"))
        .groupBy(col("n"), col("seg"))
        .agg(count(lit(1)).as("true_n"))
        .withColumn("noise", graft.ops.PrivacyOps.geometricNoise(
          concat_ws(":", col("n"), col("seg")), "dpa:", "dpb:"))
        .withColumn("noisy_n", col("true_n") + col("noise"))
        .orderBy(col("n"), col("seg"))),

    // X144 — differentially private SUMS: x140's mechanism extended to a
    // numeric aggregate. DP for a sum needs a bounded per-record
    // contribution, so each balance is CLIPPED to ±C cents first (the
    // clip IS the privacy parameter — sensitivity Δ = C). The naive
    // extension — add C-scaled unit-geometric noise to the raw clipped
    // sum — is WRONG: the noise support is the lattice C·Z, so
    // noisy_sum mod C equals the true sum's residue exactly (adjacent
    // datasets get disjoint supports — ε = ∞, not ln 2). Instead the
    // clipped sum is QUANTIZED to the lattice first: q_sum =
    // floor(clipped_sum / C) has sensitivity exactly 1 (one record moves
    // the sum by ≤ C, a monotone floor by ≤ 1), so the UNIT geometric
    // mechanism applies verbatim and ε = ln 2 genuinely holds;
    // noisy_sum = C·(q_sum + noise) is post-processing (no privacy
    // cost). Utility: ≤ C deterministic quantization error on top of
    // the C-scaled noise — bounded, and priced by the same clip bound
    // the analyst already chose. All integer (floor division via pmod,
    // identical in both engines), all in the hash. clipped_sum/clipped_n
    // ride along as the calibration audit view (x140's true_n
    // convention); the release view is (n, noisy_sum) only.
    "x144_dp_sums" -> ((s, dir) => {
      val c = 100000L // clip bound: ±1000.00 in cents
      val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
      Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("n"),
                greatest(lit(-c), least(lit(c), cents)).as("v"),
                (cents > c || cents < -c).cast("long").as("cl"))
        .groupBy(col("n"))
        .agg(sum(col("v")).as("clipped_sum"),
             sum(col("cl")).as("clipped_n"))
        // floor division as exact integer algebra: subtract the
        // non-negative pmod residue, then the division is exact and any
        // truncation convention agrees with floor
        .withColumn("q_sum",
          expr(s"(clipped_sum - pmod(clipped_sum, ${c}L)) div ${c}L"))
        .withColumn("noise", graft.ops.PrivacyOps.geometricNoise(
          col("n"), "dsa:", "dsb:"))
        .withColumn("noisy_sum", (col("q_sum") + col("noise")) * lit(c))
        .orderBy(col("n"))
    }),

    // X141 — right-to-be-forgotten cascade (GDPR art. 17): a deletion
    // request set propagates customer → orders → lineitem, and the audit
    // that proves the erasure is the output — per-table purged/kept
    // counts plus a mod-2⁶⁴ digest of the purged keys (the x111 ring),
    // so a regulator can verify WHAT was erased without the engine
    // retaining the rows. Scale shape: the request set is
    // certified-small (broadcast); each fact table pays one keyed semi
    // join — no full-table rewrite logic on the read path.
    "x141_rtbf_cascade" -> ((s, dir) => {
      import graft.functions.DigestFunctions.digestSum
      val scope = graft.ops.CacheScope.session
      val cust = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      val del = cust.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("k"))
      val po = scope.persist(
        orders.join(broadcast(del), col("o_custkey") === col("k"),
                    "left_semi")
          .select(col("o_orderkey")))
      po.count() // eager: read by the lineitem semi join AND its own audit
      val pl = li.join(po, li("l_orderkey") === po("o_orderkey"),
                       "left_semi")
        .select((col("l_orderkey") * 8 + col("l_linenumber"))
                  .cast("long").as("k"))
      def auditRow(tbl: String, purged: DataFrame, keyCol: Column,
                   total: DataFrame): DataFrame =
        purged.agg(count(lit(1)).as("purged_n"),
                   coalesce(digestSum(keyCol), lit(0L)).as("purged_digest"))
          .crossJoin(broadcast(total.agg(count(lit(1)).as("_t"))))
          .select(lit(tbl).as("tbl"), col("purged_n"),
                  (col("_t") - col("purged_n")).as("kept_n"),
                  col("purged_digest"))
      auditRow("customer", del, col("k"), cust)
        .union(auditRow("orders", po.select(col("o_orderkey").as("k")),
                        col("k"), orders))
        .union(auditRow("lineitem", pl, col("k"), li))
        .orderBy(col("tbl"))
    }))

  /** x79: the (bands, rowsPerBand) splits of the 8-component signature. */
  private val LshConfigs = Seq((8, 1), (4, 2), (2, 4))

  // --- DuckDB oracles ------------------------------------------------------

  private val enStop = T.EnStopwords.mkString("|")
  /** x78/x152 shared audit body (r17, guide §2.3 — shuffle fewer bytes):
    * the adjacent-id arm computes (inter, uni) with ONE co-keyed
    * self-join of the shingle frame; the near-dup arm CARRIES the
    * (inter, uni) SetSimJoin's verify already produced. The previous
    * shape re-attached both full shingle arrays to every audit pair via
    * two id-keyed joins to recompute those numbers — ~150 MB shuffled at
    * sf0.1 per query. Signatures (8 longs/doc) are now the only per-doc
    * payload the audit joins ship. Values are identical by construction:
    * SetSimJoin's inter/uni use the same array_intersect arithmetic over
    * the same distinct-shingle sets, and a pair caught by both arms
    * dedups to the same numbers (max == first == the value). */
  private def minhashErrorAudit(d: DataFrame, near: DataFrame): DataFrame = {
    val adj = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
                       (col("doc_id") + 1).as("id_b"))
      .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
            Seq("id_b"))
      .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
    val pairs = adj
      .unionByName(near.select(col("id_a"), col("id_b"),
                               col("inter"), col("uni")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("inter")).as("inter"), max(col("uni")).as("uni"))
    pairs
      .join(d.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
            Seq("id_a"))
      .join(d.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
            Seq("id_b"))
      .withColumn("est_x1000", expr(
        """(1000 * size(filter(zip_with(sig_a, sig_b,
             (x, y) -> x = y), m -> m))) DIV 8"""))
      .withColumn("jac_x1000", expr("(1000 * inter) DIV uni"))
      .select(col("id_a"), col("id_b"), col("est_x1000"), col("jac_x1000"),
              abs(col("est_x1000") - col("jac_x1000")).as("abs_err_x1000"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private def markers(l: String) =
    T.LangMarkers.toMap.apply(l).mkString("|")

  /** DuckDB fragment: count of whole-word matches of a marker set. */
  private def mc(ms: String) =
    s"len(regexp_extract_all(lower(text), '\\b($ms)\\b'))"

  private val wordsSql = "regexp_split_to_array(trim(text), '\\s+')"

  /** DuckDB fragment: word 3-gram shingles of `text`. */
  private val shinglesSql =
    s"""list_transform(generate_series(1, len($wordsSql) - 2),
        i -> $wordsSql[i] || ' ' || $wordsSql[i+1] || ' ' || $wordsSql[i+2])"""

  private def minhashSql(seed: Int) =
    s"list_aggregate(list_transform(sh, s -> md5('$seed:' || s)), 'min')"

  private val cosSql =
    """CASE WHEN sqrt(list_dot_product(va, va)) = 0
            OR sqrt(list_dot_product(vb, vb)) = 0 THEN NULL
       ELSE list_dot_product(va, vb) /
            (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
       END"""

  val oracleSql: Map[String, String] = Map(
    "x01_text_tokens" ->
      s"""SELECT doc_id, len($wordsSql) AS n_tokens
          FROM documents ORDER BY doc_id""",

    "x02_text_quality" ->
      s"""SELECT doc_id, length(text) AS len,
            round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                  / length(text), 4) AS punct_ratio,
            round(${mc(enStop)}::DOUBLE / len($wordsSql), 4) AS stopword_ratio,
            round(${mc(enStop)}::DOUBLE / len($wordsSql) * 0.5
                  + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                    / length(text) * 0.3
                  + (1 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text)) * 0.2, 4) AS quality
          FROM documents ORDER BY doc_id""",

    "x03_text_langid" ->
      s"""SELECT doc_id,
            CASE WHEN ${mc(markers("en"))} >= ${mc(markers("de"))}
                  AND ${mc(markers("en"))} >= ${mc(markers("es"))}
                  AND ${mc(markers("en"))} >= ${mc(markers("fr"))} THEN 'en'
                 WHEN ${mc(markers("de"))} >= ${mc(markers("es"))}
                  AND ${mc(markers("de"))} >= ${mc(markers("fr"))} THEN 'de'
                 WHEN ${mc(markers("es"))} >= ${mc(markers("fr"))} THEN 'es'
                 ELSE 'fr' END AS lang_guess
          FROM documents ORDER BY doc_id""",

    "x04_text_fingerprint" ->
      """SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",

    "x05_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dups,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents GROUP BY fp ORDER BY keep_id""",

    "x06_dedup_minhash" ->
      s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
          sig AS (SELECT doc_id,
            [${(0 until 8).map(minhashSql).mkString(",\n             ")}] AS sg
            FROM s)
          SELECT doc_id, array_to_string(sg, '|') AS sig,
            array_to_string([
              md5(sg[1] || '|' || sg[2]), md5(sg[3] || '|' || sg[4]),
              md5(sg[5] || '|' || sg[6]), md5(sg[7] || '|' || sg[8])], '|')
              AS bands
          FROM sig ORDER BY doc_id""",

    "x07_dedup_simhash" ->
      s"""WITH h AS (SELECT doc_id,
            list_transform($wordsSql,
              w -> ('0x' || substr(md5(w), 1, 4))::BIGINT) AS hv
          FROM documents)
          SELECT doc_id,
            (${(0 until 16).map(i =>
              s"""CASE WHEN list_sum(list_transform(hv,
                    x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN ${1L << i} ELSE 0 END""").mkString("\n + ")})::BIGINT AS sh
          FROM h ORDER BY doc_id""",

    "x08_dedup_ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id, list_distinct($shinglesSql) AS sh
                     FROM documents)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE
              / (len(a.sh) + len(b.sh)
                 - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4)
              AS jaccard
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
          ORDER BY id_a""",

    "x09_sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                       q.v AS va, c.v AS vb
                FROM e q JOIN e c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < 5),
          r AS (SELECT qid, nid, $cosSql AS cos FROM p),
          rk AS (SELECT qid, nid, cos, row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                 FROM r)
          SELECT qid, rank, nid, round(cos, 4) AS cos
          FROM rk WHERE rank <= 3 ORDER BY qid, rank""",

    "x11_text_subword" ->
      s"""SELECT doc_id,
            CAST(list_sum(list_transform($wordsSql,
              w -> ceil(length(w) / 4.0)::BIGINT)) AS BIGINT) AS n_subwords
          FROM documents ORDER BY doc_id""",

    "x12_text_rollhash" ->
      """SELECT doc_id,
           list_reduce(
             [0::BIGINT] || list_transform(
               list_transform(generate_series(1, length(text)), i -> text[i]),
               c -> ascii(c)::BIGINT),
             (a, b) -> (a * 31 + b) % 1000000007) AS rh
         FROM documents ORDER BY doc_id""",

    "x13_sessionize_batch" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts)::BIGINT - epoch(lag(ts) OVER w)::BIGINT > 1800
                  THEN 1 ELSE 0 END AS flag
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessioned AS (
           SELECT user_id, ts, value,
             (sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           round(sum(value), 4) AS total_value
         FROM sessioned GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "x10_sim_pairs" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round((SELECT $cosSql
                   FROM (SELECT a.v AS va, b.v AS vb) t), 4) AS cos
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
          ORDER BY id_a""",

    "x27_corpus_prep" ->
      s"""WITH d AS (
            SELECT doc_id,
              CASE WHEN ${mc(markers("en"))} >= ${mc(markers("de"))}
                    AND ${mc(markers("en"))} >= ${mc(markers("es"))}
                    AND ${mc(markers("en"))} >= ${mc(markers("fr"))} THEN 'en'
                   WHEN ${mc(markers("de"))} >= ${mc(markers("es"))}
                    AND ${mc(markers("de"))} >= ${mc(markers("fr"))} THEN 'de'
                   WHEN ${mc(markers("es"))} >= ${mc(markers("fr"))} THEN 'es'
                   ELSE 'fr' END AS lang_guess,
              round(${mc(enStop)}::DOUBLE / len($wordsSql) * 0.5
                    + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                      / length(text) * 0.3
                    + (1 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                         / length(text)) * 0.2, 4) AS quality,
              len($wordsSql) AS n_tokens,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents),
          f AS (SELECT * FROM d
                WHERE lang_guess = 'en' AND quality >= 0.3
                  AND n_tokens BETWEEN 5 AND 1000),
          keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY fp)
          SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
            CASE WHEN b < 80 THEN 'train'
                 WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT f.doc_id, f.quality, f.n_tokens,
                  ('0x' || substr(md5('split:' || f.doc_id), 1, 4))::BIGINT
                    % 100 AS b
                FROM f JOIN keep USING (doc_id)) t
          ORDER BY doc_id""",

    // quality is 4-dp by construction, so the x10^4 integerization is
    // exact; the cutoff is the max quality whose descending cumulative
    // token mass reaches the target rank — selectRanks' contract
    "x75_quality_budget" ->
      s"""WITH d AS (SELECT
             CAST(round(round(${mc(enStop)}::DOUBLE / len($wordsSql) * 0.5
                  + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                    / length(text) * 0.3
                  + (1 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text)) * 0.2, 4) * 10000) AS BIGINT) AS q,
             len($wordsSql)::BIGINT AS toks
           FROM documents),
         vc AS (SELECT q, sum(toks)::BIGINT AS toks,
                  count(*)::BIGINT AS docs FROM d GROUP BY q),
         tot AS (SELECT sum(toks)::BIGINT AS tot FROM vc),
         cum AS (SELECT q, sum(toks) OVER (ORDER BY q DESC)::BIGINT AS ctoks
                 FROM vc),
         cut AS (SELECT p,
                   (SELECT max(q) FROM cum CROSS JOIN tot
                    WHERE ctoks >= (tot * p + 99) // 100) AS cutoff_q
                 FROM (VALUES (25), (50), (75)) t(p))
         SELECT p::BIGINT AS target_pct, cutoff_q,
           (SELECT sum(toks)::BIGINT FROM vc WHERE q >= cutoff_q) AS toks_ge,
           (SELECT sum(docs)::BIGINT FROM vc WHERE q >= cutoff_q) AS docs_ge
         FROM cut ORDER BY target_pct""",

    // Per-source cutoffs = the largest q whose top-down cumulative doc
    // count reaches each tertile rank — selectRanks' contract restated
    // via the shared CorpusQueries.tertileCutsSql fragment (one
    // spelling of the rank floors for x154/x158/x159).
    "x154_quality_tertiles" ->
      s"""WITH d AS (SELECT doc_id, source,
             CAST(round(round(${mc(enStop)}::DOUBLE / len($wordsSql) * 0.5
                  + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                    / length(text) * 0.3
                  + (1 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text)) * 0.2, 4) * 10000) AS BIGINT) AS q
           FROM documents),
         ${CorpusQueries.tertileCutsSql("d")}
         SELECT doc_id, d.source, q,
           CASE WHEN q >= c1 THEN 'head'
                WHEN q >= c2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM d JOIN cuts USING (source) ORDER BY doc_id""",

    // full-probe IVF must equal brute force — x09's oracle, verbatim
    "x73_ivf_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                       q.v AS va, c.v AS vb
                FROM e q JOIN e c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < 5),
          r AS (SELECT qid, nid, $cosSql AS cos FROM p),
          rk AS (SELECT qid, nid, cos, row_number() OVER (
                   PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                 FROM r)
          SELECT qid, rank, nid, round(cos, 4) AS cos
          FROM rk WHERE rank <= 3 ORDER BY qid, rank""",

    "x78_minhash_error" ->
      s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh,
                       list_distinct($shinglesSql) AS dsh
                     FROM documents),
          sig AS (SELECT doc_id,
            [${(0 until 8).map(minhashSql).mkString(",\n             ")}] AS sg,
            dsh FROM s),
          e AS (SELECT doc_id, unnest(dsh) AS g FROM s),
          nd0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM e a JOIN e b ON b.g = a.g AND b.doc_id > a.doc_id),
          nd AS (SELECT id_a, id_b FROM (
                   SELECT id_a, id_b,
                     len(list_filter(sa.dsh,
                       x -> list_contains(sb.dsh, x)))::BIGINT AS inter,
                     (len(sa.dsh) + len(sb.dsh))::BIGINT AS tot
                   FROM nd0
                   JOIN s sa ON sa.doc_id = nd0.id_a
                   JOIN s sb ON sb.doc_id = nd0.id_b)
                 WHERE inter * 2 >= tot - inter),
          adj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1),
          pairs AS (SELECT DISTINCT id_a, id_b FROM
                    (SELECT * FROM adj UNION ALL SELECT * FROM nd)),
          p AS (SELECT id_a, id_b, a.sg AS sga, b.sg AS sgb,
                  a.dsh AS da, b.dsh AS db
                FROM pairs
                JOIN sig a ON a.doc_id = pairs.id_a
                JOIN sig b ON b.doc_id = pairs.id_b
                WHERE len(a.dsh) > 0 AND len(b.dsh) > 0),
          v AS (SELECT id_a, id_b,
                  (1000 * len(list_filter(generate_series(1, 8),
                     i -> sga[i] = sgb[i]))) // 8 AS est_x1000,
                  len(list_filter(da, x -> list_contains(db, x)))::BIGINT
                    AS inter,
                  (len(da) + len(db))::BIGINT AS tot
                FROM p)
          SELECT id_a, id_b, est_x1000,
            (1000 * inter) // (tot - inter) AS jac_x1000,
            abs(est_x1000 - (1000 * inter) // (tot - inter))
              AS abs_err_x1000
          FROM v ORDER BY id_a, id_b""",

    // x78's audit SQL with the near-dup candidates restricted to ANY
    // shared LOW-DF shingle (the x124 governed-candidate device; no
    // prefix, so parity re-proves the capped pruning complete here too)
    "x152_minhash_error_governed" ->
      s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh,
                       list_distinct($shinglesSql) AS dsh
                     FROM documents),
          sig AS (SELECT doc_id,
            [${(0 until 8).map(minhashSql).mkString(",\n             ")}] AS sg,
            dsh FROM s),
          e AS (SELECT doc_id, unnest(dsh) AS g FROM s),
          dfq AS (SELECT g, count(*)::BIGINT AS df FROM e GROUP BY g),
          le AS (SELECT e.doc_id, e.g FROM e JOIN dfq USING (g)
                 WHERE df <= 8),
          nd0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM le a JOIN le b ON b.g = a.g AND b.doc_id > a.doc_id),
          nd AS (SELECT id_a, id_b FROM (
                   SELECT id_a, id_b,
                     len(list_filter(sa.dsh,
                       x -> list_contains(sb.dsh, x)))::BIGINT AS inter,
                     (len(sa.dsh) + len(sb.dsh))::BIGINT AS tot
                   FROM nd0
                   JOIN s sa ON sa.doc_id = nd0.id_a
                   JOIN s sb ON sb.doc_id = nd0.id_b)
                 WHERE inter * 2 >= tot - inter),
          adj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1),
          pairs AS (SELECT DISTINCT id_a, id_b FROM
                    (SELECT * FROM adj UNION ALL SELECT * FROM nd)),
          p AS (SELECT id_a, id_b, a.sg AS sga, b.sg AS sgb,
                  a.dsh AS da, b.dsh AS db
                FROM pairs
                JOIN sig a ON a.doc_id = pairs.id_a
                JOIN sig b ON b.doc_id = pairs.id_b
                WHERE len(a.dsh) > 0 AND len(b.dsh) > 0),
          v AS (SELECT id_a, id_b,
                  (1000 * len(list_filter(generate_series(1, 8),
                     i -> sga[i] = sgb[i]))) // 8 AS est_x1000,
                  len(list_filter(da, x -> list_contains(db, x)))::BIGINT
                    AS inter,
                  (len(da) + len(db))::BIGINT AS tot
                FROM p)
          SELECT id_a, id_b, est_x1000,
            (1000 * inter) // (tot - inter) AS jac_x1000,
            abs(est_x1000 - (1000 * inter) // (tot - inter))
              AS abs_err_x1000
          FROM v ORDER BY id_a, id_b""",

    "x79_lsh_tuning" -> {
      def bandArr(nb: Int, r: Int): String =
        (0 until nb).map { b =>
          val parts = (1 to r).map(i => s"sg[${b * r + i}]")
            .mkString(" || '|' || ")
          s"md5($parts)"
        }.mkString("[", ", ", "]")
      def cfg(nb: Int, r: Int): String =
        s"""SELECT $nb::BIGINT AS bands, $r::BIGINT AS rows_per_band,
            (SELECT coalesce(sum(n * (n - 1) // 2), 0)::BIGINT FROM (
               SELECT bi, bs[bi] AS bk, count(*) AS n FROM (
                 SELECT doc_id, unnest(range(1, $nb + 1)) AS bi, bs
                 FROM bn${nb}x$r) t0
               GROUP BY 1, 2
             ) x) AS cand_pairs,
            (SELECT count(*)::BIGINT FROM truth) AS true_pairs,
            (SELECT coalesce(sum(CASE WHEN len(list_filter(
                  range(1, $nb + 1), i -> ba.bs[i] = bb.bs[i])) > 0
                THEN 1 ELSE 0 END), 0)::BIGINT
             FROM truth
             JOIN bn${nb}x$r ba ON ba.doc_id = truth.id_a
             JOIN bn${nb}x$r bb ON bb.doc_id = truth.id_b) AS found"""
      def bn(nb: Int, r: Int): String =
        s"bn${nb}x$r AS (SELECT doc_id, ${bandArr(nb, r)} AS bs " +
          "FROM sig WHERE len(dsh) > 0)"
      s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh,
                       list_distinct($shinglesSql) AS dsh
                     FROM documents),
          sig AS (SELECT doc_id,
            [${(0 until 8).map(minhashSql).mkString(",\n             ")}] AS sg,
            dsh FROM s),
          e AS (SELECT doc_id, unnest(dsh) AS g FROM s),
          nd0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM e a JOIN e b ON b.g = a.g AND b.doc_id > a.doc_id),
          truth AS (SELECT id_a, id_b FROM (
                   SELECT id_a, id_b,
                     len(list_filter(sa.dsh,
                       x -> list_contains(sb.dsh, x)))::BIGINT AS inter,
                     (len(sa.dsh) + len(sb.dsh))::BIGINT AS tot
                   FROM nd0
                   JOIN s sa ON sa.doc_id = nd0.id_a
                   JOIN s sb ON sb.doc_id = nd0.id_b)
                 WHERE inter * 2 >= tot - inter),
          ${bn(8, 1)},
          ${bn(4, 2)},
          ${bn(2, 4)},
          u AS (${cfg(8, 1)} UNION ALL ${cfg(4, 2)} UNION ALL ${cfg(2, 4)})
          SELECT bands, rows_per_band, cand_pairs, true_pairs, found,
            CASE WHEN true_pairs = 0 THEN NULL
                 ELSE (1000 * found) // true_pairs END AS recall_x1000
          FROM u ORDER BY bands DESC"""
    },

    // candidates restated from the SAME md5 bands (equi-join on
    // (band idx, key) like the engine) plus the |Δday| gate — banded
    // LSH is deterministic, so candidate parity is checkable, and the
    // oracle proves the engine's 3-cell gate neither missed nor
    // fabricated an in-window pair
    "x119_windowed_neardup" -> {
      val bandArr = (0 until 4).map { b =>
        s"md5(sg[${2 * b + 1}] || '|' || sg[${2 * b + 2}])"
      }.mkString("[", ", ", "]")
      s"""WITH s AS (SELECT doc_id, doc_id // 50 AS day,
                       $shinglesSql AS sh,
                       list_distinct($shinglesSql) AS dsh
                     FROM documents),
          sig AS (SELECT doc_id, day,
            [${(0 until 8).map(minhashSql).mkString(",\n             ")}] AS sg,
            dsh FROM s),
          bn AS (SELECT doc_id, day, $bandArr AS bs
                 FROM sig WHERE len(dsh) > 0),
          bx AS (SELECT doc_id, day, unnest(range(1, 5)) AS bi,
                        unnest(bs) AS bk FROM bn),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.day AS day_a, b.day AS day_b
                   FROM bx a JOIN bx b
                     ON b.bi = a.bi AND b.bk = a.bk
                    AND b.doc_id > a.doc_id
                    AND abs(a.day - b.day) <= 3),
          j AS (SELECT id_a, id_b, day_a, day_b,
                  len(list_filter(sa.dsh,
                    x -> list_contains(sb.dsh, x)))::BIGINT AS inter,
                  (len(sa.dsh) + len(sb.dsh))::BIGINT AS tot
                FROM cand JOIN s sa ON sa.doc_id = cand.id_a
                          JOIN s sb ON sb.doc_id = cand.id_b)
          SELECT id_a, id_b,
            ((1000 * inter) // (tot - inter))::BIGINT AS jac_x1000,
            abs(day_a - day_b)::BIGINT AS day_gap
          FROM j WHERE inter * 2 >= tot - inter
          ORDER BY id_a, id_b"""
    },

    "x81_cms_freq" -> {
      def bSql(tokExpr: String, rExpr: String) =
        s"('0x' || substr(md5($rExpr || ':' || $tokExpr), 1, 8))::BIGINT % 512"
      s"""WITH toks AS (SELECT unnest($wordsSql) AS tok FROM documents),
          rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
          sk AS (SELECT rs.r AS r, ${bSql("toks.tok", "rs.r::VARCHAR")} AS b,
                        count(*) AS cnt
                 FROM toks CROSS JOIN rs GROUP BY 1, 2),
          ex AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY 1
                 ORDER BY exact_n DESC, tok LIMIT 20),
          pr AS (SELECT ex.tok, ex.exact_n, rs.r AS r,
                        ${bSql("ex.tok", "rs.r::VARCHAR")} AS b
                 FROM ex CROSS JOIN rs),
          est AS (SELECT pr.tok, pr.exact_n, min(sk.cnt) AS cms_est
                  FROM pr JOIN sk ON sk.r = pr.r AND sk.b = pr.b
                  GROUP BY 1, 2)
          SELECT tok, exact_n, cms_est, cms_est - exact_n AS over_n
          FROM est ORDER BY tok"""
    },

    "x82_source_jaccard" -> {
      val mins = (0 until 8)
        .map(i => s"min(md5('$i:' || g)) AS m$i").mkString(", ")
      val matches = (0 until 8)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString("\n                 + ")
      s"""WITH s AS (SELECT source, $shinglesSql AS sh FROM documents),
          srcs AS (SELECT DISTINCT source FROM documents),
          e AS (SELECT DISTINCT source, unnest(sh) AS g FROM s),
          ssig0 AS (SELECT source, $mins FROM e GROUP BY source),
          ssig AS (SELECT srcs.source,
                     ${(0 until 8).map(i => s"ssig0.m$i").mkString(", ")}
                   FROM srcs LEFT JOIN ssig0 USING (source)),
          sizes AS (SELECT source, count(*) AS nsh FROM e GROUP BY source),
          inter AS (SELECT a.source AS src_a, b.source AS src_b,
                           count(*)::BIGINT AS inter
                    FROM e a JOIN e b ON b.g = a.g AND a.source < b.source
                    GROUP BY 1, 2),
          pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                      ($matches)::BIGINT AS matches
                    FROM ssig a JOIN ssig b ON a.source < b.source),
          o AS (SELECT p.src_a, p.src_b,
                  (1000 * p.matches) // 8 AS est_x1000,
                  coalesce(i.inter, 0)::BIGINT AS inter,
                  (coalesce(sa.nsh, 0) + coalesce(sb.nsh, 0)
                    - coalesce(i.inter, 0))::BIGINT AS uni
                FROM pairs p
                LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
                LEFT JOIN sizes sa ON sa.source = p.src_a
                LEFT JOIN sizes sb ON sb.source = p.src_b)
          SELECT src_a, src_b, est_x1000, inter, uni,
            CASE WHEN uni > 0 THEN (1000 * inter) // uni END AS jac_x1000,
            CASE WHEN uni > 0
                 THEN abs(est_x1000 - (1000 * inter) // uni) END
              AS abs_err_x1000
          FROM o ORDER BY src_a, src_b"""
    },

    "x86_containment_join" -> {
      val probeShingles =
        s"""list_transform(generate_series(1,
              least(len($wordsSql) - 2, 13)),
            i -> $wordsSql[i] || ' ' || $wordsSql[i+1] || ' '
                 || $wordsSql[i+2])"""
      s"""WITH s AS (SELECT doc_id, list_distinct($shinglesSql) AS sh
                     FROM documents),
          p AS (SELECT doc_id, list_distinct($probeShingles) AS sh
                FROM documents WHERE doc_id % 7 = 2),
          ea AS (SELECT doc_id, unnest(sh) AS g FROM p),
          eb AS (SELECT doc_id, unnest(sh) AS g FROM s),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM ea a JOIN eb b USING (g)),
          v AS (SELECT id_a, id_b,
                  len(pa.sh)::BIGINT AS n_a, len(sb.sh)::BIGINT AS n_b,
                  len(list_filter(pa.sh,
                    x -> list_contains(sb.sh, x)))::BIGINT AS inter
                FROM cand
                JOIN p pa ON pa.doc_id = cand.id_a
                JOIN s sb ON sb.doc_id = cand.id_b)
          SELECT id_a, id_b, n_a, n_b
          FROM v WHERE inter = n_a AND n_a > 0
          ORDER BY id_a, id_b"""
    },

    "x90_partial_containment" -> {
      s"""WITH s AS (SELECT doc_id, list_distinct($shinglesSql) AS sh
                     FROM documents),
          pw AS (SELECT doc_id,
                   list_transform(generate_series(1, least(len(w), 15)),
                     i -> CASE WHEN i = 5 THEN 'zqx' ELSE w[i] END) AS w
                 FROM (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id % 7 = 2) t0),
          p AS (SELECT doc_id, list_distinct(
                  list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
                FROM pw),
          ea AS (SELECT doc_id, unnest(sh) AS g FROM p),
          eb AS (SELECT doc_id, unnest(sh) AS g FROM s),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM ea a JOIN eb b USING (g)),
          v AS (SELECT id_a, id_b,
                  len(list_filter(pa.sh,
                    x -> list_contains(sb.sh, x)))::BIGINT AS inter,
                  len(pa.sh)::BIGINT AS n_a, len(sb.sh)::BIGINT AS n_b
                FROM cand
                JOIN p pa ON pa.doc_id = cand.id_a
                JOIN s sb ON sb.doc_id = cand.id_b)
          SELECT id_a, id_b, inter, n_a, n_b
          FROM v WHERE inter * 10 >= n_a * 7
          ORDER BY id_a, id_b"""
    },

    "x91_cms_incremental" ->
      s"""WITH toks AS (SELECT unnest($wordsSql) AS tok FROM documents)
          SELECT (SELECT count(*) FROM (
                    SELECT DISTINCT rs.r,
                      ('0x' || substr(md5(rs.r::VARCHAR || ':' || tok), 1, 8))
                        ::BIGINT % 512 AS b
                    FROM toks CROSS JOIN
                      (SELECT unnest([0, 1, 2, 3]) AS r) rs) c)::BIGINT
            AS n_cells,
          (SELECT 4 * count(*) FROM toks)::BIGINT AS mass,
          0::BIGINT AS n_diverged""",

    "x93_cms_joinsize" ->
      s"""WITH ka AS (SELECT user_id::VARCHAR AS k FROM events),
          kb AS (SELECT o_custkey::VARCHAR AS k FROM orders),
          rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
          sa AS (SELECT rs.r AS r,
                   ('0x' || substr(md5(rs.r::VARCHAR || ':' || k), 1, 8))
                     ::BIGINT % 512 AS b, count(*)::BIGINT AS ca
                 FROM ka CROSS JOIN rs GROUP BY 1, 2),
          sb AS (SELECT rs.r AS r,
                   ('0x' || substr(md5(rs.r::VARCHAR || ':' || k), 1, 8))
                     ::BIGINT % 512 AS b, count(*)::BIGINT AS cb
                 FROM kb CROSS JOIN rs GROUP BY 1, 2),
          ip AS (SELECT sa.r, sum(sa.ca * sb.cb)::BIGINT AS ip
                 FROM sa JOIN sb ON sb.r = sa.r AND sb.b = sa.b GROUP BY 1),
          est AS (SELECT min(ip)::BIGINT AS est_join FROM ip),
          ex AS (SELECT count(*)::BIGINT AS exact_join
                 FROM ka JOIN kb USING (k))
          SELECT est_join, exact_join, est_join - exact_join AS over_n
          FROM est, ex""",

    "x106_join_planner" -> {
      def sk(rel: String, key: String, cnt: String) =
        s"""(SELECT rs.r AS r,
               ('0x' || substr(md5(rs.r::VARCHAR || ':' || $key::VARCHAR),
                 1, 8))::BIGINT % 512 AS b, count(*)::BIGINT AS $cnt
             FROM $rel CROSS JOIN
               (SELECT unnest([0, 1, 2, 3]) AS r) rs GROUP BY 1, 2)"""
      def pair(na: String, ka: String, nb: String, kb: String) =
        s"""SELECT '$na-$nb' AS pair,
              (SELECT min(ip) FROM (
                 SELECT sum(sa.ca * sb.cb)::BIGINT AS ip
                 FROM ${sk(na, ka, "ca")} sa
                 JOIN ${sk(nb, kb, "cb")} sb ON sb.r = sa.r AND sb.b = sa.b
                 GROUP BY sa.r))::BIGINT AS est_join,
              (SELECT count(*) FROM $na a JOIN $nb b
                 ON a.$ka = b.$kb)::BIGINT AS exact_join"""
      s"""WITH allp AS (
            ${pair("customer", "c_custkey", "events", "user_id")}
            UNION ALL
            ${pair("customer", "c_custkey", "orders", "o_custkey")}
            UNION ALL
            ${pair("events", "user_id", "orders", "o_custkey")}),
          rk AS (SELECT pair, est_join, exact_join,
                   row_number() OVER (ORDER BY est_join, pair) AS rank
                 FROM allp)
          SELECT rank::BIGINT AS rank, pair, est_join, exact_join,
                 est_join - exact_join AS over_n
          FROM rk ORDER BY rank"""
    },

    // the oracle re-derives the greedy order from the SAME per-edge CMS
    // formulas (each edge sketched on its own key), then computes b02's
    // aggregate once — join order cannot change SQL results, so parity
    // proves the heterogeneous-graph DECISION
    "x122_advised_revenue" -> {
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
            ${pair("lineitem", "l_orderkey", "orders", "o_orderkey")}
            UNION ALL
            ${pair("orders", "o_custkey", "customer", "c_custkey")}
            UNION ALL
            ${pair("customer", "c_nationkey", "nation", "n_nationkey")}),
          best AS (SELECT a, b, est FROM allp ORDER BY est, a, b LIMIT 1),
          opened AS (SELECT a AS n FROM best UNION SELECT b FROM best),
          rest AS (SELECT n FROM (VALUES ('customer'), ('lineitem'),
                     ('nation'), ('orders')) t(n)
                   WHERE n NOT IN (SELECT n FROM opened)),
          link AS (SELECT r.n AS n, min(p.est) AS le
                   FROM rest r JOIN allp p
                     ON (p.a = r.n AND p.b IN (SELECT n FROM opened))
                     OR (p.b = r.n AND p.a IN (SELECT n FROM opened))
                   GROUP BY 1),
          third AS (SELECT n FROM link ORDER BY le, n LIMIT 1),
          fourth AS (SELECT n FROM rest
                     WHERE n NOT IN (SELECT n FROM third)),
          j AS (SELECT n_name,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_cents_x100,
                  count(*) AS n_items
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name)
          SELECT j.n_name, j.revenue_cents_x100, j.n_items,
            (SELECT a FROM best) || '-' || (SELECT b FROM best)
              || '-' || (SELECT n FROM third)
              || '-' || (SELECT n FROM fourth) AS greedy_order
          FROM j ORDER BY j.n_name"""
    },

    "x108_aqp_sample" ->
      """WITH d AS (SELECT o_orderkey AS id, o_orderpriority AS prio,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS w
                    FROM orders),
         c AS (SELECT id, prio, w,
                 sum(w) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum_w,
                 sum(w) OVER () AS tot_w
               FROM d),
         p AS (SELECT id, prio, w, cum_w::BIGINT AS cum_w,
                 (tot_w // 100)::BIGINT AS step,
                 ((tot_w // 100) // 2)::BIGINT AS anchor,
                 (cum_w - w)::BIGINT AS lo
               FROM c WHERE tot_w // 100 > 0),
         g AS (SELECT id, prio, w, step,
                 (CASE WHEN cum_w <= anchor THEN 0
                       ELSE least(100, (cum_w - anchor - 1) // step + 1) END
                - CASE WHEN lo <= anchor THEN 0
                       ELSE least(100, (lo - anchor - 1) // step + 1) END
                 )::BIGINT AS mult
               FROM p),
         est AS (SELECT prio, sum(mult)::BIGINT AS n_sampled,
                   sum(mult * step)::BIGINT AS est_cents,
                   sum((mult * step + w // 2) // w)::BIGINT AS est_n
                 FROM g WHERE mult >= 1 GROUP BY prio),
         ex AS (SELECT prio, count(*)::BIGINT AS exact_n,
                  sum(w)::BIGINT AS exact_cents
                FROM d GROUP BY prio)
         SELECT est.prio, n_sampled, est_cents, exact_cents,
           (abs(est_cents - exact_cents) * 1000 // exact_cents)::BIGINT
             AS err_permille,
           est_n, exact_n
         FROM est JOIN ex ON ex.prio = est.prio
         ORDER BY est.prio""",

    // the oracle resolves the same forest by row-at-a-time recursion —
    // the shape the doubling operator exists to avoid
    "x109_hierarchy_rollup" ->
      """WITH RECURSIVE
         c AS (SELECT c_custkey AS node,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
               FROM customer),
         r(node, root, depth) AS (
           SELECT node, node, 0::BIGINT FROM c WHERE node < 10
           UNION ALL
           SELECT c.node, r.root, r.depth + 1
           FROM c JOIN r ON r.node = c.node // 10
           WHERE c.node >= 10),
         t AS (SELECT root, count(*)::BIGINT AS tree_n,
                 sum(c.cents)::BIGINT AS tree_cents,
                 max(depth)::BIGINT AS tree_depth
               FROM r JOIN c USING (node) GROUP BY root)
         SELECT node, r.root, depth, tree_n, tree_cents, tree_depth
         FROM r JOIN t ON t.root = r.root
         ORDER BY node""",

    // 16 unrolled MATERIALIZED peel rounds (see the query comment for
    // why 16 and why idempotent); plain CTEs would re-expand the round
    // chain exponentially, exactly like the x117 trainer chain
    "x120_kcore" -> {
      val rounds = (1 to 16).map { r =>
        s"""e$r AS MATERIALIZED (
             SELECT e.src, e.dst FROM e${r - 1} e
             JOIN (SELECT src FROM (SELECT src, count(*) AS n
                     FROM e${r - 1} GROUP BY 1) WHERE n >= 2) a
               ON a.src = e.src
             JOIN (SELECT src FROM (SELECT src, count(*) AS n
                     FROM e${r - 1} GROUP BY 1) WHERE n >= 2) b
               ON b.src = e.dst)"""
      }.mkString(",\n")
      s"""WITH lp AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
          pr AS MATERIALIZED (
            SELECT a.p AS src, b.p AS dst
            FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
            GROUP BY 1, 2 HAVING count(*) >= 2),
          e0 AS MATERIALIZED (
            SELECT src, dst FROM pr
            UNION ALL SELECT dst, src FROM pr),
          $rounds
          SELECT src AS node, count(*)::BIGINT AS degree
          FROM e16 GROUP BY 1 ORDER BY 1"""
    },

    "x111_digest_reconcile" ->
      s"""WITH cur AS (SELECT doc_id, text FROM documents),
         old AS (SELECT doc_id,
                   CASE WHEN doc_id % 13 = 5 THEN substring(text, 1, 40)
                        ELSE text END AS text
                 FROM cur WHERE doc_id % 17 <> 3
                 UNION ALL
                 SELECT doc_id + 1000000000000,
                   upper(substring(text, 1, 20))
                 FROM cur WHERE doc_id % 19 = 7),
         fo AS (SELECT doc_id, doc_id % 64 AS bucket,
                  ('0x' || substr(md5(doc_id::VARCHAR || ':' || text),
                    1, 12))::BIGINT AS f
                FROM old),
         fc AS (SELECT doc_id, doc_id % 64 AS bucket,
                  ('0x' || substr(md5(doc_id::VARCHAR || ':' || text),
                    1, 12))::BIGINT AS f
                FROM cur),
         ao AS (SELECT bucket, count(*)::BIGINT AS n_old,
                  ${graft.functions.DigestFunctions.wrap64Sql("sum(f)")}
                    AS d_old FROM fo GROUP BY 1),
         ac AS (SELECT bucket, count(*)::BIGINT AS n_cur,
                  ${graft.functions.DigestFunctions.wrap64Sql("sum(f)")}
                    AS d_cur FROM fc GROUP BY 1),
         dig AS (SELECT coalesce(ao.bucket, ac.bucket) AS bucket,
                   coalesce(n_old, 0)::BIGINT AS n_old,
                   coalesce(n_cur, 0)::BIGINT AS n_cur,
                   (coalesce(d_old, 0) = coalesce(d_cur, 0)
                    AND coalesce(n_old, 0) = coalesce(n_cur, 0))
                     AS digest_match
                 FROM ao FULL JOIN ac ON ac.bucket = ao.bucket),
         bad AS (SELECT bucket FROM dig WHERE NOT digest_match),
         dfo AS (SELECT * FROM fo
                 WHERE bucket IN (SELECT bucket FROM bad)),
         dfc AS (SELECT * FROM fc
                 WHERE bucket IN (SELECT bucket FROM bad)),
         dj AS (SELECT coalesce(dfo.bucket, dfc.bucket) AS bucket,
                  dfo.f AS f_o, dfc.f AS f_n
                FROM dfo FULL JOIN dfc ON dfc.doc_id = dfo.doc_id),
         dd AS (SELECT bucket,
                  sum(CASE WHEN f_o IS NULL THEN 1 ELSE 0 END)::BIGINT
                    AS n_added,
                  sum(CASE WHEN f_n IS NULL THEN 1 ELSE 0 END)::BIGINT
                    AS n_removed,
                  sum(CASE WHEN f_o IS NOT NULL AND f_n IS NOT NULL
                           AND f_o <> f_n THEN 1 ELSE 0 END)::BIGINT
                    AS n_changed
                FROM dj GROUP BY 1)
         SELECT dig.bucket, n_old, n_cur, digest_match,
           coalesce(n_added, 0)::BIGINT AS n_added,
           coalesce(n_removed, 0)::BIGINT AS n_removed,
           coalesce(n_changed, 0)::BIGINT AS n_changed
         FROM dig LEFT JOIN dd ON dd.bucket = dig.bucket
         ORDER BY dig.bucket""",

    // full recompute from the CURRENT snapshot — the incremental merge
    // over the signed delta must reproduce it exactly; digest wrapped
    // mod 2^64 exactly as the engine's (DigestFunctions.wrap64Sql, the
    // same formula string the Spark side documents)
    "x116_digest_incremental" ->
      s"""SELECT doc_id % 64 AS bucket, count(*)::BIGINT AS n_docs,
           ${graft.functions.DigestFunctions.wrap64Sql(
             "sum(('0x' || substr(md5(doc_id::VARCHAR || ':' || text), " +
               "1, 12))::BIGINT)")} AS digest
         FROM documents GROUP BY 1 ORDER BY 1""",

    "x132_quantile_sketch" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem),
          bk AS (SELECT CASE WHEN c <= 0 THEN 0
                   WHEN length(CAST(c AS VARCHAR)) <= 3
                     THEN length(CAST(c AS VARCHAR)) * 1000 + c
                   ELSE length(CAST(c AS VARCHAR)) * 1000
                     + c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 3)
                             AS BIGINT)
                 END AS b FROM c),
          vc AS (SELECT b, count(*)::BIGINT AS cnt FROM bk GROUP BY b),
          cum AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum,
                         (SELECT sum(cnt) FROM vc) AS tot
                  FROM vc),
          ps AS (SELECT unnest([50, 90, 99]) AS p),
          sel AS (SELECT p, min(b) AS b
                  FROM ps JOIN cum ON cum.cum >= (tot * p + 99) // 100
                  GROUP BY p)
          SELECT CAST(p AS BIGINT) AS p, b,
                 CASE WHEN b // 1000 <= 3 THEN b % 1000
                      ELSE (b % 1000 + 1)
                        * CAST(pow(10, b // 1000 - 3) AS BIGINT) - 1
                 END AS est_cents
          FROM sel ORDER BY p""",

    "x94_kmv_cardinality" -> {
      val est = (kmv: String) =>
        s"""CASE WHEN len($kmv) < 64 THEN len($kmv)::BIGINT
                 ELSE ${63L * (1L << 48)} // $kmv[64] END"""
      s"""WITH toks AS (SELECT source, unnest($wordsSql) AS tok
                        FROM documents),
          dh AS (SELECT DISTINCT source,
                   ('0x' || substr(md5('kmv:' || tok), 1, 12))::BIGINT AS h
                 FROM toks),
          kv AS (SELECT source, (list_sort(list(h)))[1:64] AS kmv
                 FROM dh GROUP BY source),
          dt AS (SELECT DISTINCT source, tok FROM toks),
          sizes AS (SELECT source, count(*)::BIGINT AS nd FROM dt
                    GROUP BY source),
          ix AS (SELECT a.source AS src_a, b.source AS src_b,
                        count(*)::BIGINT AS exact_inter
                 FROM dt a JOIN dt b
                   ON b.tok = a.tok AND a.source < b.source
                 GROUP BY 1, 2),
          pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                      a.kmv AS kmv_a, b.kmv AS kmv_b,
                      (list_sort(list_distinct(a.kmv || b.kmv)))[1:64] AS kmv_u
                    FROM kv a JOIN kv b ON a.source < b.source),
          m AS (SELECT src_a, src_b, kmv_a, kmv_b, kmv_u,
                  len(list_filter(kmv_u,
                    x -> list_contains(kmv_a, x)
                     AND list_contains(kmv_b, x)))::BIGINT AS matches,
                  ${est("kmv_u")} AS est_union
                FROM pairs)
          SELECT m.src_a, m.src_b,
            ${est("m.kmv_a")} AS est_a, ${est("m.kmv_b")} AS est_b,
            m.est_union,
            CASE WHEN len(m.kmv_u) < 64 THEN m.matches
                 ELSE (m.matches * m.est_union) // 64 END AS est_inter,
            sa.nd AS exact_a, sb.nd AS exact_b,
            sa.nd + sb.nd - coalesce(ix.exact_inter, 0) AS exact_union,
            coalesce(ix.exact_inter, 0)::BIGINT AS exact_inter
          FROM m
          JOIN sizes sa ON sa.source = m.src_a
          JOIN sizes sb ON sb.source = m.src_b
          LEFT JOIN ix ON ix.src_a = m.src_a AND ix.src_b = m.src_b
          ORDER BY m.src_a, m.src_b"""
    },

    // the identical residual cascade: count at a level over records NOT
    // yet published at a finer one
    "x135_k_anonymize" ->
      """WITH base AS (SELECT c_custkey AS id,
               CAST(c_nationkey AS BIGINT) AS n, c_mktsegment AS seg,
               (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
                 AS band
             FROM customer),
          c0 AS (SELECT n, seg, band, count(*)::BIGINT AS cnt
                 FROM base GROUP BY n, seg, band),
          k0 AS (SELECT base.id, base.n, base.seg, base.band, c0.cnt
                 FROM base JOIN c0 USING (n, seg, band) WHERE c0.cnt >= 5),
          r1 AS (SELECT base.id, base.n, base.seg, base.band
                 FROM base JOIN c0 USING (n, seg, band) WHERE c0.cnt < 5),
          c1 AS (SELECT n, seg, count(*)::BIGINT AS cnt
                 FROM r1 GROUP BY n, seg),
          k1 AS (SELECT r1.id, r1.n, r1.seg, c1.cnt
                 FROM r1 JOIN c1 USING (n, seg) WHERE c1.cnt >= 5),
          r2 AS (SELECT r1.id, r1.n, r1.seg
                 FROM r1 JOIN c1 USING (n, seg) WHERE c1.cnt < 5),
          c2 AS (SELECT n, count(*)::BIGINT AS cnt FROM r2 GROUP BY n),
          k2 AS (SELECT r2.id, r2.n, c2.cnt
                 FROM r2 JOIN c2 USING (n) WHERE c2.cnt >= 5),
          r3 AS (SELECT r2.id FROM r2 JOIN c2 USING (n) WHERE c2.cnt < 5)
          SELECT id, level, gen, grp_n FROM (
            SELECT id, 0 AS level,
                   CAST(n AS VARCHAR) || '|' || seg || '|'
                     || CAST(band AS VARCHAR) AS gen, cnt AS grp_n
            FROM k0
            UNION ALL
            SELECT id, 1, CAST(n AS VARCHAR) || '|' || seg || '|*', cnt
            FROM k1
            UNION ALL
            SELECT id, 2, CAST(n AS VARCHAR) || '|*|*', cnt FROM k2
            UNION ALL
            SELECT id, 3, '*|*|*',
                   (SELECT count(*) FROM r3)::BIGINT FROM r3)
          ORDER BY id""",

    // the relational restatement of the per-row fold: bigram multiplicity
    // = max group count (DuckDB generate_series is empty when stop <
    // start, matching the Spark side's short-doc guard)
    "x136_doc_repetition" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
          g AS (SELECT doc_id, ws,
                  list_transform(generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1]) AS bs,
                  list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS ts
                FROM w),
          ex AS (SELECT doc_id, unnest(bs) AS b FROM g),
          tp AS (SELECT doc_id, max(cnt) AS tb FROM (
                   SELECT doc_id, b, count(*)::BIGINT AS cnt
                   FROM ex GROUP BY doc_id, b) GROUP BY doc_id)
          SELECT g.doc_id,
                 len(ws)::BIGINT AS n_words,
                 (len(ws) - len(list_distinct(ws)))::BIGINT AS dup_word_n,
                 coalesce(tp.tb, 0)::BIGINT AS top_bigram_n,
                 (len(ts) - len(list_distinct(ts)))::BIGINT
                   AS dup_trigram_n,
                 coalesce(tp.tb, 0) * 100 > (len(ws) - 1) * 9
                   AS repetitive
          FROM g LEFT JOIN tp USING (doc_id)
          ORDER BY g.doc_id""",

    // the identical residual cascade with the added diversity floor:
    // a level publishes only groups with >= k members AND >= l distinct
    // sensitive values, counted over records not yet published
    "x139_l_diversity" ->
      """WITH base AS (SELECT c_custkey AS id,
               CAST(c_nationkey AS BIGINT) AS n,
               (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
                 AS band,
               c_mktsegment AS seg
             FROM customer),
          c0 AS (SELECT n, band, count(*)::BIGINT AS cnt,
                   count(DISTINCT seg)::BIGINT AS ndv
                 FROM base GROUP BY n, band),
          k0 AS (SELECT base.id, base.n, base.band, c0.cnt, c0.ndv
                 FROM base JOIN c0 USING (n, band)
                 WHERE c0.cnt >= 5 AND c0.ndv >= 3),
          r1 AS (SELECT base.id, base.n, base.band, base.seg
                 FROM base JOIN c0 USING (n, band)
                 WHERE NOT (c0.cnt >= 5 AND c0.ndv >= 3)),
          c1 AS (SELECT n, count(*)::BIGINT AS cnt,
                   count(DISTINCT seg)::BIGINT AS ndv
                 FROM r1 GROUP BY n),
          k1 AS (SELECT r1.id, r1.n, c1.cnt, c1.ndv
                 FROM r1 JOIN c1 USING (n)
                 WHERE c1.cnt >= 5 AND c1.ndv >= 3),
          r2 AS (SELECT r1.id, r1.seg FROM r1 JOIN c1 USING (n)
                 WHERE NOT (c1.cnt >= 5 AND c1.ndv >= 3))
          SELECT id, level, gen, grp_n, div_n FROM (
            SELECT id, 0 AS level,
                   CAST(n AS VARCHAR) || '|' || CAST(band AS VARCHAR)
                     AS gen, cnt AS grp_n, ndv AS div_n
            FROM k0
            UNION ALL
            SELECT id, 1, CAST(n AS VARCHAR) || '|*', cnt, ndv FROM k1
            UNION ALL
            SELECT id, 2, '*|*', (SELECT count(*) FROM r2)::BIGINT,
                   (SELECT count(DISTINCT seg) FROM r2)::BIGINT
            FROM r2)
          ORDER BY id""",

    // the identical trailing-zero geometric draws, derived from the same
    // md5 hex digits (tzSql is kept beside the Spark formula in
    // PrivacyOps so the two can only drift loudly)
    "x140_dp_counts" -> {
      val key = "CAST(n AS VARCHAR) || ':' || seg"
      val noise = s"(${graft.ops.PrivacyOps.tzSql(key, "dpa:")} - " +
        s"${graft.ops.PrivacyOps.tzSql(key, "dpb:")})"
      s"""WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS n,
                 c_mktsegment AS seg, count(*)::BIGINT AS true_n
               FROM customer GROUP BY 1, 2)
          SELECT n, seg, true_n, $noise AS noise,
                 true_n + $noise AS noisy_n
          FROM g ORDER BY n, seg"""
    },

    // the identical clip + floor-quantize + UNIT geometric draws
    // (quantize-then-noise — the lattice fix; see the query comment)
    "x144_dp_sums" -> {
      val noise = s"(${graft.ops.PrivacyOps.tzSql("CAST(n AS VARCHAR)", "dsa:")} - " +
        s"${graft.ops.PrivacyOps.tzSql("CAST(n AS VARCHAR)", "dsb:")})"
      s"""WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS n,
                 sum(greatest(-100000, least(100000,
                   CAST(round(c_acctbal * 100) AS BIGINT))))::BIGINT
                   AS clipped_sum,
                 sum(CASE WHEN CAST(round(c_acctbal * 100) AS BIGINT)
                            > 100000
                          OR CAST(round(c_acctbal * 100) AS BIGINT)
                            < -100000
                          THEN 1 ELSE 0 END)::BIGINT AS clipped_n
               FROM customer GROUP BY 1),
          q AS (SELECT n, clipped_sum, clipped_n,
                  ((clipped_sum - (((clipped_sum % 100000) + 100000)
                      % 100000)) // 100000)::BIGINT AS q_sum
                FROM g)
          SELECT n, clipped_sum, clipped_n, q_sum,
                 $noise AS noise,
                 (q_sum + $noise) * 100000 AS noisy_sum
          FROM q ORDER BY n"""
    },

    // the identical cascade: IN-subquery semi joins, count audits, and
    // the wrap64 ring digest of each purged key set
    "x141_rtbf_cascade" -> {
      import graft.functions.DigestFunctions.wrap64Sql
      def dg(src: String) =
        s"coalesce(${wrap64Sql(s"(SELECT sum(k::HUGEINT) FROM $src)")}, 0)"
      s"""WITH del AS (SELECT c_custkey AS k FROM customer
                       WHERE c_custkey % 97 = 0),
          po AS (SELECT o_orderkey AS k FROM orders
                 WHERE o_custkey IN (SELECT k FROM del)),
          pl AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem
                 WHERE l_orderkey IN (SELECT k FROM po))
          SELECT tbl, purged_n, kept_n, purged_digest FROM (
            SELECT 'customer' AS tbl,
              (SELECT count(*) FROM del)::BIGINT AS purged_n,
              ((SELECT count(*) FROM customer)
                 - (SELECT count(*) FROM del))::BIGINT AS kept_n,
              ${dg("del")} AS purged_digest
            UNION ALL
            SELECT 'orders', (SELECT count(*) FROM po)::BIGINT,
              ((SELECT count(*) FROM orders)
                 - (SELECT count(*) FROM po))::BIGINT,
              ${dg("po")}
            UNION ALL
            SELECT 'lineitem', (SELECT count(*) FROM pl)::BIGINT,
              ((SELECT count(*) FROM lineitem)
                 - (SELECT count(*) FROM pl))::BIGINT,
              ${dg("pl")})
          ORDER BY tbl"""
    })
}
