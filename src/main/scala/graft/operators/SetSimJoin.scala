package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity join (AllPairs/PPJoin-style prefix filtering):
  * all pairs with Jaccard(set_a, set_b) >= tau, with NO all-pairs scan
  * and NO probabilistic misses.
  *
  * The MinHash-LSH path (x06/x16) trades recall for cost — a pair can
  * land in no common band and silently vanish. This operator is the
  * EXACT member of the near-dup family: candidate generation prunes with
  * two theorems that cannot lose a qualifying pair, then verifies the
  * exact Jaccard on survivors only.
  *
  *  - Prefix filter: order every element by one global total order
  *    (rarest-first: ascending document frequency, then element). If
  *    jac(A,B) >= tau, then the first |A| - ceil(tau*|A|) + 1 elements
  *    of A and the first |B| - ceil(tau*|B|) + 1 of B share at least
  *    one element (Bayardo et al., WWW'07) — so candidates come from a
  *    banded equi-join on PREFIX elements only. Rarest-first makes those
  *    prefixes the least-shared elements: candidate fan-out is
  *    sum over prefix elements of df², dominated by rare elements, while
  *    stopword-grade elements never generate pairs.
  *  - Length filter: jac >= tau forces tau <= |A|/|B| <= 1/tau; applied
  *    inside the candidate join before the distinct.
  *
  * Dataflow at scale: one exchange keyed on element for the df count,
  * one co-partitioned join to attach df, one doc-keyed rank window to
  * mark prefix membership (partition = one set, state bounded by set
  * width), the prefix equi-join (the only data-sized fan-out, bounded
  * as above), a distinct on pairs, and two keyed joins to fetch the
  * sets for exact verification. Nothing is ever all-pairs;
  * nothing buffers more than one set per row. The PPJoin positional
  * filter IS implemented (r16): candidates carry prefix ranks, a
  * row-level overlap bound prunes at join time on every path, and the
  * uncapped paths add a per-pair first-match bound — see joinImpl.
  *
  * Determinism: the global order is (df, element) — engine-independent —
  * and the verify arithmetic is integer (inter*den >= uni*num), so the
  * result is oracle-exact; the DuckDB twin generates candidates from ANY
  * shared element (no prefix), so the oracle also proves the pruning
  * never dropped a qualifying pair.
  */
object SetSimJoin {

  /** @param docs one row per set: (`idCol` — any orderable type, kept
    *             as-is in the output; `setCol` array<string> with
    *             DISTINCT elements — duplicates violate set semantics
    *             and are the caller's bug)
    * @param tauNum/tauDen  the threshold as an exact rational, e.g. 1/2.
    * @return (id_a, id_b, inter, uni, jac) for every pair with
    *         inter*tauDen >= uni*tauNum and id_a < id_b — where `<` is
    *         the ORDER OF THE ID'S OWN TYPE: numeric for bigint ids,
    *         lexicographic (binary collation) for string/uuid ids.
    *         Which side of a pair lands in id_a therefore depends on
    *         the id type; don't assume the numeric bigint contract when
    *         feeding string-keyed sets (round-9 change, ADVICE r9).
    *
    * Cache lifetime: the dataflow persists two intermediates (the
    * tokenized sets and the ranked prefix) because each is consumed by
    * more than one join; a lazy operator cannot unpersist what its
    * result still reads, so their lifetime is owned by the implicit
    * [[graft.ops.CacheScope]] — session-scoped (clearCache hygiene, the
    * Verify/Bench default) unless the caller opens `CacheScope.using`
    * and materializes inside it. */
  def join(docs: DataFrame, idCol: String, setCol: String,
           tauNum: Int, tauDen: Int)
          (implicit scope: graft.ops.CacheScope): DataFrame =
    joinImpl(docs, idCol, setCol, tauNum, tauDen)

  /** Document-frequency-CAPPED set-similarity join — candidate
    * GOVERNANCE for token spaces that saturate (the r11 sf1 probe
    * measured [[join]] at ~29× for 10× data on a closed vocabulary,
    * where every element's df grows linearly and the prefix filter
    * stops pruning). Returns EXACTLY the pairs with
    * `jac >= tau AND min df over shared elements <= dfCap` — the pairs
    * whose similarity rests on at least one element that is still
    * informative. Pairs whose every shared element is saturated-common
    * are dropped BY DEFINITION, not missed: the capped prefix filter is
    * zero-miss for this semantic because prefixes are rarest-FIRST —
    * for a qualifying pair sharing a low-df element e, either e sits in
    * both prefixes, or the prefix elements of the side excluding e are
    * all rarer than e (≤ dfCap), and the uncapped theorem already
    * guarantees a shared prefix element. Candidate fan-out is bounded by
    * dfCap · Σdf = dfCap · |element instances| — LINEAR in the corpus
    * whatever the df distribution does (measured: see SCALING.md r11). */
  def joinCapped(docs: DataFrame, idCol: String, setCol: String,
                 tauNum: Int, tauDen: Int, dfCap: Long)
                (implicit scope: graft.ops.CacheScope): DataFrame = {
    require(dfCap >= 1, s"joinCapped: dfCap must be >= 1, got $dfCap")
    joinImpl(docs, idCol, setCol, tauNum, tauDen, Some(dfCap))
  }

  private def joinImpl(docs: DataFrame, idCol: String, setCol: String,
                       tauNum: Int, tauDen: Int,
                       dfCap: Option[Long] = None)
                      (implicit scope: graft.ops.CacheScope): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"setSimJoin: tau must be in (0,1], got $tauNum/$tauDen")
    // both the element stream (df count + ranked rebuild) and the verify
    // joins re-read the sets; persist so tokenization upstream runs once.
    // The id keeps its ORIGINAL type — a cast("long") here would turn a
    // string/uuid id into NULL and silently collapse every pair onto it
    val sets = scope.persist(docs.select(col(idCol).as("_id"),
                           col(setCol).as("_set")))
    val elems = sets.select(col("_id"),
      size(col("_set")).cast("long").as("_len"),
      explode(col("_set")).as("_e"))
    val dfreq = elems.groupBy(col("_e"))
      .agg(count(lit(1)).cast("long").as("_df"))
    // Prefix membership WITHOUT rebuilding per-doc arrays: an element is
    // in its doc's prefix iff its rank under the global (df, element)
    // order within the doc is <= p = len - ceil(tau*len) + 1, with
    // ceil(tau*len) = (tauNum*len + tauDen - 1) DIV tauDen. One
    // row_number window partitioned by doc replaces the earlier
    // collect_list + sort_array + slice + re-explode round trip (which
    // materialized every set twice and measured ~7s of the bench-SF
    // runtime on its own). Elements are distinct within a doc, so
    // (df, e) totally orders each partition — deterministic ranks.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_df"), col("_e"))
    // the prefix stream feeds BOTH sides of the candidate self-join —
    // persist or the df join + window execute twice
    // dfreq (one row per distinct element) is data-sized at scale and its
    // post-aggregate size estimate is exactly the kind Catalyst gets
    // wrong on a stats-less input — pin this join too so the whole
    // dataflow has one deterministic shape at every SF
    // the df cap (joinCapped) applies AFTER prefix ranking: prefix
    // membership keeps the uncapped global order (the zero-miss proof
    // needs the true rarest-first prefixes), then saturated elements
    // are dropped from candidate generation only
    val ranked = elems.join(dfreq.hint("shuffle_hash"), Seq("_e"))
      .withColumn("_rn", row_number().over(wDoc).cast("long"))
      .filter(col("_rn") <=
        col("_len") -
        expr(s"(_len * $tauNum + ${tauDen - 1}) DIV $tauDen") + lit(1L))
    val prefix = scope.persist(
      dfCap.fold(ranked)(c => ranked.filter(col("_df") <= c))
        .select(col("_id"), col("_len"), col("_e"), col("_rn")))
    val a = prefix.select(col("_id").as("id_a"), col("_len").as("_la"),
                          col("_e").as("_ea"), col("_rn").as("_ra"))
    val b = prefix.select(col("_id").as("id_b"), col("_len").as("_lb"),
                          col("_e").as("_eb"), col("_rn").as("_rb"))
    // Join strategies are PINNED with shuffle_hash hints: every frame
    // here is data-sized (prefix stream, candidate pairs, the set
    // corpus), so at scale none is broadcastable, and the persisted
    // stats-less inputs are exactly the class where Catalyst's size
    // estimate can flip the strategy run-to-run (a broadcast of a
    // data-sized frame, or a SortMergeJoin that sorts rows carrying the
    // full element arrays). The hint fixes the plan: hash-partition on
    // the key, build the hinted side per-partition — the strategy that
    // is correct at every SF. PlanShapeSpec asserts the pin holds.
    //
    // PPJoin POSITIONAL filter (r16 optimization — the upgrade the
    // original scaladoc deferred "if a profile ever shows the verify
    // join dominating"; the r16 profile did: at bench SF the verify
    // join's second exchange shipped 268 MB of attached set arrays for
    // 310k candidates of which 256 survived). Candidates carry the
    // prefix RANKS of the matching element on both sides; a qualifying
    // pair needs inter*(tauDen+tauNum) >= tauNum*(la+lb) (inter >=
    // tau/(1+tau)*(la+lb), integer-exact), and the match positions
    // bound the achievable overlap, so most false candidates die BEFORE
    // any set array is attached or shuffled:
    //  - per candidate row (ANY shared prefix element at ranks i, j):
    //    common elements globally before the match number at most
    //    min(i,j)-1, those after at most min(la-i, lb-j), so
    //    inter <= min(i,j) + min(la-i, lb-j) — a row-level join-time
    //    prune, valid for every row (capped and uncapped);
    //  - per PAIR (r17 — the ACCUMULATED form, strictly tighter than
    //    r16's first-match bound): let C = the number of candidate rows
    //    of the pair and (i, j) = the LAST match's ranks (shared
    //    elements appear in the same relative order on both sides under
    //    the one global order, so max(struct(ra, rb)) is that row).
    //    Every shared element NOT counted in C sits after the last
    //    match on BOTH sides: if posA(e) < i then, by global-order
    //    consistency, posB(e) < j <= pb — so e is in both prefixes and
    //    would itself be a row; on the CAPPED path a row is only
    //    missing when df(e) > cap >= df(last match), which puts e after
    //    the last match in the global order, the same conclusion. Hence
    //    inter <= C + min(la-i, lb-j) on every path, capped included
    //    (r16 ran the capped path on the row-level bound only; the
    //    accumulated argument closes that gap). Tighter than
    //    first-match: ranks strictly increase, so
    //    C + min(la-i_last, lb-j_last) <= 1 + min(la-i_first, lb-j_first).
    // Both bounds are >= the true inter for qualifying pairs, so the
    // prune is zero-miss; the oracle (candidates from ANY shared
    // element) keeps re-proving exactly that. The point of pruning at
    // the PAIR level is the verify join's payload: every surviving pair
    // ships a full set array through the next exchange (measured at
    // bench SF: 125 k pairs -> 112 MB), so each pair pruned here is
    // ~1 KB that never crosses the wire.
    val alpha = col("_la") + col("_lb") // inter*(den+num) >= num*alpha
    val rowBound = least(col("_ra"), col("_rb")) +
      least(col("_la") - col("_ra"), col("_lb") - col("_rb"))
    val candRows = a.hint("shuffle_hash").join(b,
        col("_ea") === col("_eb") && col("id_a") < col("id_b") &&
        least(col("_la"), col("_lb")) * tauDen >=
          greatest(col("_la"), col("_lb")) * tauNum &&
        rowBound * (tauDen + tauNum) >= alpha * tauNum)
    val cand =
      candRows
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("_c"),
             max(struct(col("_ra"), col("_rb"))).as("_m"),
             min(col("_la")).as("_fla"), min(col("_lb")).as("_flb"))
        .filter((col("_c") + least(col("_fla") - col("_m._ra"),
                                   col("_flb") - col("_m._rb"))) *
                  (tauDen + tauNum) >=
                (col("_fla") + col("_flb")) * tauNum)
        .select(col("id_a"), col("id_b"))
    val sa = sets.select(col("_id").as("id_a"), col("_set").as("_sa"),
                         size(col("_set")).cast("long").as("_la"))
    val sb = sets.select(col("_id").as("id_b"), col("_set").as("_sb"),
                         size(col("_set")).cast("long").as("_lb"))
    cand.join(sa.hint("shuffle_hash"), Seq("id_a"))
      .join(sb.hint("shuffle_hash"), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("uni", col("_la") + col("_lb") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
              round(col("inter").cast("double") / col("uni"), 4).as("jac"))
  }

  /** Exact binary-COSINE threshold join: all pairs with
    * cos(A,B) = |A∩B| / sqrt(|A|·|B|) >= tau over distinct-element
    * sets — the fourth member of the exact-join family (Jaccard above,
    * containment x86/x90, edit distance x99). Same architecture, cosine
    * bounds:
    *
    *  - Overlap bound: cos >= tau forces ov >= tau²·max(|A|,|B|)
    *    (ov² >= tau²|A||B| and ov <= min(|A|,|B|)), so per doc the
    *    prefix is the first |A| - ceil(tau²·|A|) + 1 elements under the
    *    global (df, element) order — zero-miss by the same pigeonhole
    *    as the Jaccard prefix.
    *  - Length filter: tau²·|A| <= |B| <= |A|/tau², applied inside the
    *    candidate join.
    *  - Verify: ov²·tauDen² >= |A|·|B|·tauNum² — all integer, so the
    *    oracle (candidates from ANY shared element) re-proves the
    *    pruning complete and checks exact values.
    *
    * Id type and cache lifetime follow [[join]]: the id keeps its
    * original type, and the two persisted intermediates are
    * caller-managed (`spark.catalog.clearCache()` after consuming).
    */
  def cosineJoin(docs: DataFrame, idCol: String, setCol: String,
                 tauNum: Int, tauDen: Int)
                (implicit scope: graft.ops.CacheScope): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"cosineJoin: tau must be in (0,1], got $tauNum/$tauDen")
    val n2 = tauNum.toLong * tauNum
    val d2 = tauDen.toLong * tauDen
    val sets = scope.persist(docs.select(col(idCol).as("_id"),
                           col(setCol).as("_set")))
    val elems = sets.select(col("_id"),
      size(col("_set")).cast("long").as("_len"),
      explode(col("_set")).as("_e"))
    val dfreq = elems.groupBy(col("_e"))
      .agg(count(lit(1)).cast("long").as("_df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_df"), col("_e"))
    // prefix p = len - ceil(tau² * len) + 1
    val prefix = scope.persist(elems.join(dfreq.hint("shuffle_hash"), Seq("_e"))
      .withColumn("_rn", row_number().over(wDoc).cast("long"))
      .filter(col("_rn") <=
        col("_len") - expr(s"(_len * $n2 + ${d2 - 1}) DIV $d2") + lit(1L))
      .select(col("_id"), col("_len"), col("_e"), col("_rn")))
    val a = prefix.select(col("_id").as("id_a"), col("_len").as("_la"),
                          col("_e").as("_ea"), col("_rn").as("_ra"))
    val b = prefix.select(col("_id").as("id_b"), col("_len").as("_lb"),
                          col("_e").as("_eb"), col("_rn").as("_rb"))
    // PPJoin positional prune, cosine form (see joinImpl for the bound
    // derivation and zero-miss argument): required overlap is
    // inter² · d2 >= la·lb·n2; the row-level bound applies to every
    // shared prefix row, the accumulated-count + last-match bound per
    // pair (r17 — same proof as joinImpl, strictly tighter than the
    // first-match form it replaces).
    val rowBound = least(col("_ra"), col("_rb")) +
      least(col("_la") - col("_ra"), col("_lb") - col("_rb"))
    val cand = a.hint("shuffle_hash").join(b,
        col("_ea") === col("_eb") && col("id_a") < col("id_b") &&
        least(col("_la"), col("_lb")) * d2 >=
          greatest(col("_la"), col("_lb")) * n2 &&
        rowBound * rowBound * d2 >= col("_la") * col("_lb") * n2)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_c"),
           max(struct(col("_ra"), col("_rb"))).as("_m"),
           min(col("_la")).as("_fla"), min(col("_lb")).as("_flb"))
      .filter({
        val fb = col("_c") + least(col("_fla") - col("_m._ra"),
                                   col("_flb") - col("_m._rb"))
        fb * fb * d2 >= col("_fla") * col("_flb") * n2
      })
      .select(col("id_a"), col("id_b"))
    val sa = sets.select(col("_id").as("id_a"), col("_set").as("_sa"),
                         size(col("_set")).cast("long").as("_la"))
    val sb = sets.select(col("_id").as("id_b"), col("_set").as("_sb"),
                         size(col("_set")).cast("long").as("_lb"))
    cand.join(sa.hint("shuffle_hash"), Seq("id_a"))
      .join(sb.hint("shuffle_hash"), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .filter(col("inter") * col("inter") * d2 >=
              col("_la") * col("_lb") * n2)
      .select(col("id_a"), col("id_b"), col("inter"),
              col("_la").as("n_a"), col("_lb").as("n_b"),
              round(col("inter").cast("double") /
                    sqrt((col("_la") * col("_lb")).cast("double")), 4)
                .as("cos"))
  }
}
