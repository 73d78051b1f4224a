package graft

import org.apache.spark.sql.functions._
import graft.ops.BucketOps
import graft.operators.DedupOperators

/** Plan-shape assertions for the scale-critical operators: the properties
  * SCALING.md claims must be visible in the physical plan, not just fast
  * on the test box. */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  /** Assert a rank-limit window over `key` pushed down as a map-side
    * partial WindowGroupLimit: printed top-down, the partial sits BELOW
    * the window's own hash exchange — without it, every row of a group
    * crosses the wire to be ranked and discarded. */
  private def assertPartialGroupLimit(plan: String, key: String): Unit = {
    val exIdx = plan.indexOf(s"Exchange hashpartitioning($key")
    assert(exIdx >= 0, plan.take(3000))
    assert(plan.indexOf("WindowGroupLimit", exIdx) >= 0, plan.take(3000))
  }

  test("q28 as-of join plans as window over one shuffle — no nested-loop join") {
    val plan = planOf("q28_asof_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("Window"), "as-of should ride a running window")
  }

  test("q29 range join plans as an equi-join on gap cells — no nested-loop join") {
    val plan = planOf("q29_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the |Δts| predicate must be a post-join filter over an equi-join,
    // visible as a join with the cell in its keys
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q50 global top-k plans as TakeOrderedAndProject — never a global sort") {
    val plan = planOf("q50_global_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // per-partition top-k + driver merge; a total Sort exchange would be
    // the 100 TB failure mode (the only Sort allowed is none)
    assert(!plan.contains("rangepartitioning"), plan.take(2000))
  }

  test("x22 blocked near-dup joins on the block key — no cartesian product") {
    val plan = planOf("x22_embedding_neardup")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("vec_dot"), "per-pair math must be the native expr")
  }

  test("x25 bigram top-k plans as TakeOrderedAndProject with partial aggregation") {
    val plan = planOf("x25_bigram_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("rangepartitioning"), plan.take(2000))
    // map-side combine: a partial HashAggregate must appear below the
    // exchange so each distinct bigram crosses the wire once per partition
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("x80 PMI top-k: TakeOrderedAndProject over broadcast model joins — no global sort, no SMJ of the pair stream") {
    val plan = planOf("x80_pmi_collocations")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("rangepartitioning"), plan.take(2000))
    // the vocabulary model joins must broadcast — a sort-merge of the
    // corpus-sized pair stream against a 1k-row model is the x56 flip
    assert(plan.contains("BroadcastHashJoin") &&
           !plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("x24 TF-IDF broadcasts the corpus-size scalar — no cartesian blowup") {
    val plan = planOf("x24_tfidf_top_term")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"),
      "the one-row N must arrive by broadcast: " + plan.take(2000))
  }

  test("q63 tumbling window aggregates in one shuffle — no join, no sort of rows") {
    val plan = planOf("q63_tumbling_window")
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("x31 decontamination broadcasts the benchmark shingle set") {
    val plan = planOf("x31_decontaminate")
    // the eval-set side must arrive by broadcast — shuffling the corpus
    // against it would turn a small-dimension join into a full exchange
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q67 upsert and q68 snapshot diff plan as single equi-joins — no nested loops") {
    for (q <- Seq("q67_upsert", "q68_snapshot_diff")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"), s"$q: " + plan.take(2000))
      assert(plan.contains("FullOuter"), s"$q must merge via one full-outer join")
    }
  }

  test("q69 profile aggregates with map-side partial aggregation") {
    val plan = planOf("q69_profile")
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("x32 packing: range-split prefix sum — no source-only window over the doc sequence") {
    val plan = planOf("x32_seq_packing")
    // the cumulative token offset must be range-split: a source-only
    // window would put a source's ENTIRE doc sequence through one task
    assert("\\[source#\\d+\\], \\[doc_id#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(source#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("x41 weighted interleave: schedule head is TakeOrderedAndProject, position is range-split") {
    val plan = planOf("x41_weighted_mix")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // a global range sort of the corpus would be the 100 TB failure mode
    assert(!plan.contains("rangepartitioning"), plan.take(3000))
    // per-source position rides the range-split prefix count, never a
    // source-only row_number over the whole doc sequence
    assert("\\[source#\\d+\\], \\[doc_id#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(source#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
  }

  test("x35 shuffle-shard: in-shard position is a range-split prefix count") {
    val plan = planOf("x35_shuffle_shard")
    // a shard-only window ordered by the hash would put 1/8 of the
    // corpus through one task
    assert("\\[shard#\\d+\\], \\[k#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(shard#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
    // the 60-bit cut key is a long — the native binary-search kernel
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("x38 chunking is shuffle-free up to the output sort (constant fan-out generate)") {
    val df = SparkEntry.queries("x38_chunk_overlap")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // one exchange total: the final presentation orderBy; chunk generation
    // itself (split → sequence → posexplode → slice/md5) is map-side
    assert(plan.split("Exchange").length - 1 <= 1, plan.take(3000))
    assert(plan.contains("Generate"), plan.take(2000))
  }

  test("q73 lateral top-k decorrelates to a join — no per-row subquery loop") {
    val plan = planOf("q73_lateral_topk")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the per-order LIMIT shows up as a window/limit over the join, and
    // the correlation as an equi-join on l_orderkey
    assert(plan.contains("Join"), plan.take(3000))
  }

  test("x40 BM25 broadcasts query terms and corpus stats; tf/df aggs are partial") {
    val plan = planOf("x40_bm25_topk")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(3000))
  }

  test("q83 BFS: level plan is equi-join + anti join with bounded exchanges; result lineage is flat") {
    import spark.implicits._
    // one smallFrontier BFS level, exactly as GraphOps.bfs builds it:
    // cached-edge scan probed by the broadcast frontier, distinct, then a
    // broadcast anti join against visited
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val frontier = Seq(1L).toDF("node")
    val visited = Seq((1L, 0L)).toDF("node", "dist")
    val level = e.join(broadcast(frontier), frontier("node") === e("src"))
      .select(col("dst").as("node")).distinct()
      .join(broadcast(visited), Seq("node"), "left_anti")
      .withColumn("dist", lit(1L))
    val plan = level.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the join key is the node id on both joins — never a nested loop over
    // frontier × edges
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the edge list must NEVER shuffle or sort in a level: the only
    // shuffle is the frontier distinct; frontier and visited arrive by
    // broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.split("Exchange hashpartitioning").length - 1 <= 1,
      plan.take(3000))
    // the full query's RETURNED plan must be flat — a checkpoint scan, not
    // a depth-4 union-of-joins chain (the r5 bench pathology)
    val result = SparkEntry.queries("q83_graph_bfs")(spark, sfDir)
    val full = result.queryExecution.optimizedPlan.toString
    assert(full.contains("LogicalRDD") || full.contains("ExistingRDD"),
      "bfs result should read its checkpoint: " + full.take(2000))
    assert(!full.contains("Join"),
      "bfs lineage must be truncated per level: " + full.take(2000))
  }

  test("x42 segment dedup: generate + keyed aggs, no cartesian, no global row sort") {
    val df = SparkEntry.queries("x42_line_dedup")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // segment explode is a Generate; keeper/rebuild are hash aggs keyed by
    // segment text and doc_id — the three-exchange dataflow plus the final
    // presentation orderBy is all the shuffling there is
    assert(plan.contains("Generate"), plan.take(2000))
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(2000))
    assert(plan.split("Exchange").length - 1 <= 6, plan.take(3000))
  }

  test("x43 vocab apply: vocab arrives by broadcast; corpus tokens never shuffle for the lookup") {
    val df = SparkEntry.queries("x43_vocab_apply")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the token→id lookup must be a broadcast hash join (vocab is bounded
    // by type count); a shuffled join would exchange the whole token stream
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x44 length trim: rank is a range-split prefix count over the packed key") {
    val plan = planOf("x44_length_trim")
    assert(!plan.contains("SinglePartition"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the two-sided cut is not a constant-k rank filter, so
    // WindowGroupLimit can't save a source-only window — the rank must
    // ride the range-split prefix count over the packed (n_tokens,
    // doc_id) key instead
    assert("\\[source#\\d+\\], \\[n_tokens#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(source#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("x45 ngram novelty: keyed aggs + equi-join on shingle, no cartesian, bounded exchanges") {
    val plan = planOf("x45_ngram_novelty")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // distinct (doc,shingle), shingle df agg, join back, per-doc agg, final
    // presentation sort — nothing else may shuffle
    assert(plan.split("Exchange").length - 1 <= 6, plan.take(3000))
  }

  test("x46 unigram surprise: vocab and corpus-N arrive by broadcast") {
    val plan = planOf("x46_unigram_surprise")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // token→count lookup must be a broadcast hash join; shuffling the full
    // token stream against the vocab would be the 100 TB failure mode
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x47 source overlap: keyed aggs + bounded pair explode, no cartesian") {
    val plan = planOf("x47_source_overlap")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(2000))
    assert(plan.split("Exchange").length - 1 <= 6, plan.take(3000))
  }

  test("x29 quantized top-k: query-side id filter reaches the scan — one full quantize pass") {
    val plan = SparkEntry.queries("x29_quantized_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the broadcast (query) branch must quantize only its 5 scanned rows:
    // the vec_id<5 predicate has to appear as a parquet PushedFilter, not
    // as a post-quantize row filter over a second full corpus pass
    assert(plan.contains("LessThan(vec_id,5)"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("writeRangeSorted: N bounded shard sorts replay one global order in file order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rsort")
      .toString + "/t"
    // 7919 coprime to 1000 → a permutation: every key distinct
    val df = (0 until 1000).map(i => (((i * 7919) % 1000).toLong, s"r$i"))
      .toDF("k", "v")
    val staged = df.repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    val plan = staged.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    graft.io.TableIo.writeRangeSorted(df, dir, 4, Seq("k"))
    val parts = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
    assert(parts.length == 4, parts)
    val shards = parts.map(p => spark.read.parquet(s"$dir/$p")
      .select("k").collect().map(_.getLong(0)).toSeq)
    shards.foreach(s => assert(s == s.sorted))   // each shard sorted
    val all = shards.flatten
    assert(all == all.sorted && all.size == 1000) // file order = global order
  }

  test("partitioned parquet write: date filter prunes partitions in the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/t"
    val df = (0 until 1000)
      .map(i => (i.toLong, f"2024-01-${i % 9 + 1}%02d", i * 1.5))
      .toDF("id", "day", "v")
    graft.io.TableIo.writePartitioned(df, dir, Seq("day"))
    val pruned = spark.read.parquet(dir).filter(col("day") === "2024-01-03")
    // 1000 ids spread over 9 days: day 3 holds ids with id % 9 == 2
    assert(pruned.count() == (0 until 1000).count(_ % 9 == 2))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    // the filter reaches the scan as a PARTITION filter (directory pruning),
    // not a row-level data filter
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"),
      scan.take(1500))
  }

  test("persisted signature index: bucketed corpus side joins without its own exchange") {
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, s"document number $i with some shared words plus token${i % 7} and token${i % 11}"))
      .toDF("doc_id", "text")
    val idx = DedupOperators.signatureIndex(docs, "doc_id", "text")
    // a previous JVM's warehouse dir may linger while the in-memory
    // catalog starts empty — clear both before the managed write
    spark.sql("DROP TABLE IF EXISTS corpus_sig_idx_test")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "corpus_sig_idx_test")
    if (loc.exists) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(loc)
    }
    BucketOps.writeBucketed(idx, "corpus_sig_idx_test", "band_key", 8)
    val corpusIdx = BucketOps.read(spark, "corpus_sig_idx_test")
    val fresh = (200 until 220).map(i =>
      (i.toLong, s"document number ${i - 200} with some shared words plus token${(i - 200) % 7} and token${(i - 200) % 11}"))
      .toDF("doc_id", "text")
    val cands = DedupOperators.incrementalCandidates(corpusIdx, fresh, "doc_id", "text")
    assert(cands.count() > 0, "planted dups must surface")
    // the bucketed corpus scan must not be re-shuffled: every Exchange in
    // the plan sits on the freshly-computed side
    val plan = cands.queryExecution.executedPlan.toString
    val scanToFirstExchange = plan.linesIterator
      .dropWhile(l => !l.contains("corpus_sig_idx_test"))
      .takeWhile(l => !l.contains("Exchange"))
    assert(plan.contains("Bucketed: true"),
      "corpus side should scan its buckets directly:\n" + plan.take(3000))
  }

  test("q85 funnel: stage joins are keyed on user_id — no cartesian, no nested loop") {
    val plan = planOf("q85_event_funnel")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // each stage is a hash agg keyed by user_id joined to the next stage's
    // events; the timestamp-window predicate must ride the equi-join as a
    // post-join filter, never turn the join into a nested loop
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("q86 retention: distinct collapses events before the self-join") {
    val df = SparkEntry.queries("q86_retention_cohorts")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the (user, day) distinct must sit BELOW the join in the plan — the
    // join input is user×day, not raw events (the 100 TB difference)
    val joinAt = plan.indexOf("Join")
    val aggAt = plan.indexOf("HashAggregate", joinAt)
    assert(joinAt >= 0 && aggAt > joinAt,
      "distinct agg should appear beneath the join:\n" + plan.take(3000))
  }

  test("q87 MAD: windows run over range-split value-count frames, not raw rows") {
    val df = SparkEntry.queries("q87_mad_outliers")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // both medians must consume a pre-aggregated (prio, value, count)
    // frame: a HashAggregate must sit below every Window in the plan
    val firstWindow = plan.indexOf("Window")
    assert(firstWindow >= 0 &&
           plan.indexOf("HashAggregate", firstWindow) > firstWindow,
      "value-count agg should appear beneath the windows:\n" + plan.take(3000))
    // the tiny per-group medians arrive back by broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the price domain is near-unique, so the cumulative windows must be
    // range-split — a prio-only window ordered by the value would funnel
    // a whole group through one task (the q104 hazard)
    assert("\\[prio#\\d+\\], \\[v#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("\\[prio#\\d+\\], \\[dev#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(prio#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
  }

  test("x48 filter funnel: keyed aggregations only — no join at all in the plan") {
    val plan = planOf("x48_filter_funnel")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("x51 distinctive tokens: corpus counts derive from the source agg; totals broadcast") {
    val plan = planOf("x51_distinctive_tokens")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // per-source totals and the 1-row corpus total must arrive by
    // broadcast; the only shuffled join key is token
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("hashpartitioning(source"), plan.take(3000))
  }

  test("x52 candidate quality: banded equi-join feeds the verify — no all-pairs join") {
    val plan = planOf("x52_candidate_quality")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("x49/x50 cap+quota: windows partition by their key — no single-partition window") {
    // with few groups (sources/langs) the rank filter MUST push down as a
    // partial WindowGroupLimit — each map task ships ≤ k rows per group
    // instead of the group's whole corpus slice
    val capPlan = planOf("x49_source_cap")
    assert(!capPlan.contains("SinglePartition"), capPlan.take(3000))
    assertPartialGroupLimit(capPlan, "source")
    val quotaPlan = planOf("x50_lang_quota")
    assert(!quotaPlan.contains("SinglePartition"), quotaPlan.take(3000))
    assertPartialGroupLimit(quotaPlan, "lang")
  }

  test("x66 BPE pairs: top-K is a TakeOrdered over the pair agg, never a global sort") {
    val plan = planOf("x66_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("x67 repeated spans: span-count join is keyed — no all-pairs path") {
    val plan = planOf("x67_repeated_spans")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert("hashpartitioning\\(span#\\d+".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("x68 incremental vocab: count merge is a keyed full-outer over two partial aggs") {
    val plan = planOf("x68_vocab_incremental")
    assert(plan.contains("FullOuter"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // both sides pre-aggregate to (token, n) before the join: the merge
    // joins count frames, never raw token occurrences
    assert("partial_count".r.findAllIn(plan.toLowerCase).size >= 2
      || plan.split("HashAggregate").length - 1 >= 4, plan.take(3000))
  }

  test("x09 ANN brute force: per-query rank limit is a map-side partial") {
    // the candidate frame is |queries|·|corpus| pairs — only k per query
    // may cross the ranking exchange
    assertPartialGroupLimit(planOf("x09_sim_topk"), "qid")
  }

  test("q88 markov: lead window shuffles by user_id; per-state totals broadcast") {
    val plan = planOf("q88_markov_transitions")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("hashpartitioning(user_id"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q89 interval peak: delta agg collapses rows BELOW the cumulative window") {
    val plan = planOf("q89_interval_peak")
    assert(!plan.contains("Join"), plan.take(3000))
    val firstWindow = plan.indexOf("Window")
    assert(firstWindow >= 0 &&
           plan.indexOf("HashAggregate", firstWindow) > firstWindow,
      "the ±1 delta agg should appear beneath the window:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(flag"), plan.take(3000))
  }

  test("q90 weighted median: value-domain agg below range-split windows") {
    val plan = planOf("q90_weighted_median")
    // the only joins are the broadcast range-offset lookups of the
    // prefix sum — never a shuffled join of the domain
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"), plan.take(3000))
    val firstWindow = plan.indexOf("Window")
    assert(firstWindow >= 0 &&
           plan.indexOf("HashAggregate", firstWindow) > firstWindow,
      "weight-count agg should appear beneath the windows:\n" + plan.take(3000))
    // near-unique cents domain: cumulative weight must be range-split,
    // with the native binary-search kernel assigning ranges
    assert("\\[flag#\\d+\\], \\[v#\\d+".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("hashpartitioning\\(flag#\\d+, _rb#\\d+".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("x54 contamination: benchmark shingles arrive by broadcast; no cartesian") {
    val plan = planOf("x54_contamination_ppm")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x55 cross-source near-dup: pair join keyed on label — no all-pairs join") {
    val plan = planOf("x55_cross_source_neardup")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("vec_dot"), "per-pair math must be the native expr")
  }

  test("x56 bigram surprise: both count joins are keyed equi-joins, never broadcast-nested-loop") {
    val plan = planOf("x56_bigram_surprise")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q91 triangles: no cartesian; the repeated edge-list subplan is computed once") {
    val df = SparkEntry.queries("q91_triangle_count")(spark, sfDir)
    df.collect() // AQE resolves reuse at runtime; inspect the final plan
    val plan = df.queryExecution.executedPlan.toString
    // the only nested-loop joins are the 1-row stat-frame crosses; a
    // CartesianProduct over data-sized inputs must never appear
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // e feeds degree, orientation, and the closing semi join — exchange
    // reuse must collapse the identical distinct-edge subplans
    assert(plan.contains("ReusedExchange"),
      "edge-list subplan should be reused, not recomputed:\n" + plan.take(3000))
  }

  test("x58 heavy hitters: ObjectHashAggregate with map-side partial summaries") {
    val plan = planOf("x58_heavy_hitters")
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    // partial_spacesavingaggregator below the exchange: each partition
    // ships one bounded summary per source, never its token rows
    assert(plan.toLowerCase.contains("partial_spacesaving"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("x57 length bands: value-count agg below windows; windows keyed by lang") {
    val plan = planOf("x57_length_bands")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("hashpartitioning(lang"), plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("q95 z-order: pure projection into one keyed agg — no join, no window") {
    val plan = planOf("q95_zorder_locality")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q96 ER: candidates via hash join on the blocking key, never nested-loop") {
    val plan = planOf("q96_entity_resolution")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("q97 bitmap distinct: two-level agg, no Expand-based count_distinct") {
    val plan = planOf("q97_bitmap_distinct")
    // the bitmap path must NOT compile to the expand/dedup dataflow that
    // shuffles every raw key (that is q33's shape); the bitmap partials
    // ride SortAggregate (binary buffers aren't hash-mutable) — the sort
    // is per-partition over (flag, bucket), and what crosses the wire is
    // one 4 KB bitmap per group-bucket, not the raw keys
    assert(!plan.contains("Expand"), plan.take(3000))
    assert(plan.contains("bitmapBucketNumber") ||
           plan.contains("bitmap_bucket_number"), plan.take(3000))
  }

  test("q98 attribution: as-of rides one keyed window — no per-row subquery join") {
    val plan = planOf("q98_attribution")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("hashpartitioning(user_id"), plan.take(3000))
  }

  test("q99 incremental rollup: both partials push their date filter to the scan") {
    val df = SparkEntry.queries("q99_incremental_rollup")(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("LessThan(o_orderdate"), formatted.take(3000))
    assert(formatted.contains("GreaterThanOrEqual(o_orderdate"),
      formatted.take(3000))
  }

  test("x62 CDC chunks: per-doc fan-out only — no join, one chunk-hash agg") {
    val plan = planOf("x62_cdc_chunks")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Generate"), "chunk explode must be a Generate")
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("b03 bucketed revenue: the fact-fact join runs with NO exchange on either side") {
    val df = SparkEntry.queries("b03_bucketed_revenue")(spark, sfDir)
    df.collect() // first call lays out the bucketed tables; plan below is steady-state
    val steady = SparkEntry.queries("b03_bucketed_revenue")(spark, sfDir)
    steady.collect()
    // AQE prints Final + Initial sections; grade the final one only
    val full = steady.queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // both scans must open their buckets directly
    assert("Bucketed: true".r.findAllMatchIn(plan).size == 2, plan.take(3000))
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the ONLY hash exchange is the post-join priority aggregation; the
    // join itself inherits the co-bucketed layout
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
      plan.take(3000))
    // everything below the join must be exchange-free; the per-partition
    // Sorts that remain are LOCAL (Spark ≥3 doesn't trust bucket sort
    // order unless the legacy outputOrdering conf is on) — linear
    // per-task work, never a shuffle
    val below = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"),
      "join inputs must not shuffle:\n" + plan.take(3000))
    "Sort \\[[^\\]]*\\], (true|false)".r.findAllMatchIn(below).foreach(m =>
      assert(m.group(1) == "false",
        "any join-input sort must be local, not global:\n" + plan.take(3000)))
  }

  test("q47 null-safe join hashes on the id equi-conjunct — never a nested loop") {
    val plan = planOf("q47_nullsafe_join")
    // the <=> conjunct alone would be a weak key (most k values are null →
    // one giant null bucket); the planner must ALSO hash on the
    // id_b = id_a + 1 arithmetic equi-conjunct, and the null-safe equality
    // must never demote the join to a nested loop / cartesian
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
      plan.take(3000))
    // the arithmetic key appears in the join keys / partitioning
    assert("\\(id_a#\\d+L? \\+ 1\\)".r.findFirstIn(plan).isDefined,
      "join must key on (id_a + 1):\n" + plan.take(3000))
  }

  test("q104 equi-depth: cumulative sum is range-split — no single-partition sort of a group's value domain") {
    val plan = planOf("q104_equidepth_hist")
    // the round-6 failure shape: Window partitioned by flag alone ordered
    // by v — with a near-unique price domain that is one task sorting a
    // whole group. It must be gone.
    assert("\\[flag#\\d+\\], \\[v#\\d+".r.findFirstIn(plan).isEmpty,
      "domain-sized window must not partition by flag alone:\n" +
        plan.take(3000))
    // the domain-sized cumulative window is keyed by (flag, _rb): per-task
    // work is one sketch range, bounded by |domain|/splits
    assert("hashpartitioning\\(flag#\\d+, _rb#\\d+".r.findFirstIn(plan)
        .isDefined, plan.take(3000))
    // per-range offsets arrive by broadcast, never by re-shuffling the domain
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // long order keys must take the native O(log splits) binary-search
    // kernel, not the interpreted O(splits) HOF fold
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("q106 exact quantiles ride the range-split prefix sum — no single-partition domain sort") {
    val plan = planOf("q106_exact_quantiles")
    assert("\\[flag#\\d+\\], \\[v#\\d+".r.findFirstIn(plan).isEmpty,
      "domain-sized window must not partition by flag alone:\n" +
        plan.take(3000))
    assert("hashpartitioning\\(flag#\\d+, _rb#\\d+".r.findFirstIn(plan)
        .isDefined, plan.take(3000))
    assert(plan.contains("sorted_lower_bound"), plan.take(3000))
  }

  test("x34 inverted index: posting cap is a merge-closed partial, not collect_set") {
    val plan = planOf("x34_inverted_index")
    // collect_set-then-slice buffers EVERY doc id of a stopword term
    // before slicing; the cap must be the bounded distinct bottom-k
    assert(!plan.contains("collect_set"), plan.take(3000))
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.toLowerCase.contains("partial_bottomkdistinct"),
      plan.take(3000))
    // no count_distinct expand either: df rides the (word, doc_id) agg
    assert(!plan.contains("Expand"), plan.take(3000))
  }

  test("x65 bottom-k sample: merge-closed partial aggregation — corpus rows never shuffle") {
    val plan = planOf("x65_bottomk_sample")
    // the selection must be an ObjectHashAggregate with a map-side
    // partial bottom-k: each partition ships ≤ k pairs per stratum, not
    // its rows (a row_number window would exchange the whole corpus)
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.toLowerCase.contains("partial_bottomk"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("withIngestOrdinalFrom: columnar two-phase numbering — no RDD barrier, deterministic ranges") {
    import spark.implicits._
    import graft.ops.DedupOps
    val df = (1 to 500).map(i => (f"k${997 - i}%03d", i)).toDF("k", "v")
      .repartition(6)
    // sampleMod=2 so the bounded sample actually cuts ranges at this size
    val withOrd = DedupOps.withIngestOrdinalFrom(df, Seq(col("k")),
      splits = 4, sampleMod = 2)
    // multi-range path must still produce the contiguous key-ordered ordinal
    val rows = withOrd.orderBy("_ingest_ord").select("k", "_ingest_ord")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(_._2) == (1L to 500L), rows.take(20).toString)
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    val plan = withOrd.queryExecution.executedPlan.toString
    // the round-6 shape round-tripped through rdd.zipWithIndex — an
    // InternalRow→Row→InternalRow barrier that kills whole-stage codegen
    assert(!plan.contains("ExistingRDD"),
      "must stay columnar: " + plan.take(3000))
    // the data-sized numbering window is keyed by the deterministic range
    // id — NOT by spark_partition_id (self-join de-duplication re-plans the
    // shared subtree, so physical pids are not stable across the count and
    // numbering passes; a pid-based scheme silently corrupts ordinals)
    assert("hashpartitioning\\(_rb#\\d+".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    assert(!plan.contains("SPARK_PARTITION_ID"), plan.take(3000))
    // range offsets arrive by broadcast, never by re-shuffling the data
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x24/x56: vocabulary-sized models join the corpus stream by broadcast only") {
    // the flip class: a model frame derived from a stats-less cached
    // parent has no size estimate, so without an explicit broadcast the
    // planner intermittently sort-merges the corpus-sized probe side
    // (x56 measured 1.3 s broadcast vs 10.9 s flipped)
    Seq("x24_tfidf_top_term", "x56_bigram_surprise",
        "x72_importance_weights").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SortMergeJoin"),
        s"$q: model join must broadcast, got:\n" + plan.take(3000))
    }
  }

  test("x69 hyperplane LSH: candidates come from banded equi-joins — no cartesian anywhere") {
    val plan = planOf("x69_hyperplane_lsh")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // both band joins must hash on the 8-bit signature key
    assert("hashpartitioning\\(bk#\\d+".r.findFirstIn(plan).isDefined ||
           plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q108 SCD2: both window passes ride ONE user_id exchange") {
    val plan = planOf("q108_scd2_intervals")
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(n == 1,
      s"change detection and interval close must share the shuffle, got $n:\n"
        + plan.take(3000))
  }

  test("q112 skyline: both RANGE frames ride ONE brand exchange, no self-join") {
    val plan = planOf("q112_skyline")
    val n = "Exchange hashpartitioning\\(p_brand".r.findAllIn(plan).length
    assert(n == 1,
      s"tie-max and lower-max frames must share the brand shuffle, got $n:\n"
        + plan.take(3000))
    // the O(n²) oracle shape must never leak into the Spark plan
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q110 interval lookup is join-free: binary search in projection, no exchange before the sort") {
    val plan = planOf("q110_interval_lookup")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("sorted_lower_bound"),
      "classification must ride the native binary-search expression:\n"
        + plan.take(3000))
    // the only exchange is the presentation sort's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("q111/x104 set-sim joins: candidate + verify joins are pinned shuffled-hash — no broadcast/SMJ flip possible") {
    for (q <- Seq("q111_setsim_join", "x104_cosine_setjoin")) {
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // every frame in this dataflow is data-sized; the shuffle_hash hints
    // in SetSimJoin must pin all three joins (candidate self-join + the
    // two verify set-fetch joins) so a stats-less persisted input can
    // never flip the strategy to a data-sized broadcast or an
    // array-sorting SortMergeJoin (the r7 42s-vs-4s instability class)
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shj >= 4,
      s"expected >=4 pinned ShuffledHashJoins (df-attach, candidate, " +
        s"2× verify), got $shj:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "SMJ flip on the set-sim dataflow:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastHashJoin"),
      "data-sized broadcast flip on the set-sim dataflow:\n" + plan.take(3000))
    }
  }

  /** True iff some BroadcastExchange SUBTREE (structural, not a string
    * window — the base branch's `NOT (pred)` contains `pred` as a
    * substring) carries a positive Filter matching `pred`. */
  private def broadcastCarriesFilter(name: String, pred: String): Boolean = {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val p = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other                    => other
      }
    // toString, not .sql: .sql renders literals with explicit CASTs
    // ("% CAST(10 AS BIGINT)") and would never match the plain pattern
    p.collect { case b: BroadcastExchangeExec => b }.exists(
      _.child.collect {
        case f: FilterExec if f.condition.toString.contains(pred) &&
            !f.condition.toString.contains("NOT") => f
      }.nonEmpty)
  }

  test("q115 IVM: the delta branch joins the dimension by broadcast — base is merged, not re-joined") {
    val plan = planOf("q115_ivm_join")
    assert(plan.contains("BroadcastHashJoin"),
      "delta-side maintenance must broadcast the arriving batch:\n"
        + plan.take(3000))
    // "some broadcast exists" is not the claim — at tiny SF the planner
    // may also broadcast the orders dimension on the base branch. Pin
    // that the ARRIVING DELTA is a broadcast side: a BroadcastExchange
    // subtree must carry the delta's defining filter (ok % 10 = 7)
    assert(broadcastCarriesFilter("q115_ivm_join", "% 10) = 7"),
      "no BroadcastExchange subtree carries the delta filter " +
        "(ok % 10 = 7) — the delta batch is not the broadcast side:\n"
        + plan.take(3000))
  }

  test("q117 retracting IVM: the signed CDC batch is the broadcast side of its dimension join") {
    val plan = planOf("q117_ivm_retract")
    // the batch is insert(=7) ∪ delete(=3); the delete arm's positive
    // filter can only live under the batch's BroadcastExchange (the
    // base branch filters ok % 10 <> 7 — a NOT, excluded structurally)
    assert(broadcastCarriesFilter("q117_ivm_retract", "% 10) = 3"),
      "no BroadcastExchange subtree carries the delete-arm filter " +
        "(ok % 10 = 3) — the CDC batch is not the broadcast side:\n"
        + plan.take(3000))
  }

  test("q107 zone-map pruned read opens only the files whose zones intersect the range") {
    import graft.io.Compaction
    // build the per-SF scratch layout (idempotent), then check the scan
    val df = SparkEntry.queries("q107_zonemap_prune")(spark, sfDir)
    df.collect() // ensures the pay-once compaction exists
    val out = Scratch.dir("zm", sfDir)
    val total = Compaction.dataFiles(spark, out).size
    val zm = Compaction.zoneMap(spark, out, Seq("n_chars"))
    val pruned = Compaction.readPruned(spark, out, zm, "n_chars",
      lit(100L), lit(200L))
    assert(pruned.inputFiles.length < total,
      s"pruning must drop files: ${pruned.inputFiles.length} of $total")
  }

  test("x81 CMS: the sketch agg is keyed by (r, b) with a map-side partial — never by token") {
    val plan = planOf("x81_cms_freq")
    // the sketch branch groups on the struct-derived (r, b) pair —
    // Catalyst prints those as a two-key _groupingexpression exchange,
    // distinct from the audit branch's token-keyed exchange — and must
    // carry a map-side partial_count so the wire sees O(d*w) cells per
    // task, not occurrences
    assert(plan.contains("hashpartitioning(_groupingexpression"),
      "sketch exchange must be keyed by the derived (r, b) pair:\n"
        + plan.take(3000))
    assert(plan.contains("partial_count"),
      "sketch agg must combine map-side:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("x86/x90 containment: candidate and verify joins are keyed — no nested loop anywhere") {
    Seq("x86_containment_join", "x90_partial_containment").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
        s"$q must stay equi-join only:\n" + plan.take(3000))
      // the verify is relational: no array_intersect fetch remains
      assert(!plan.contains("array_intersect"),
        s"$q verify must count postings hits, not ship arrays:\n"
          + plan.take(3000))
    }
  }

  test("x85 JW matching: best-match is a partial-aggregable agg, not a window sort") {
    val plan = planOf("x85_jw_entity_match")
    assert(!plan.contains("Window"),
      "argmax must be min(struct), not row_number over a window:\n"
        + plan.take(3000))
    assert(plan.contains("jaro_winkler"),
      "the native expression must appear in the plan:\n" + plan.take(3000))
  }

  test("b04 persisted sketch table: pay-once write is idempotent; steady state reads it") {
    val df1 = SparkEntry.queries("b04_sketch_steady")(spark, sfDir)
    df1.collect() // materializes the sketch table if absent
    val dirF = new java.io.File(Scratch.dir("sk", sfDir))
    assert(dirF.isDirectory, "pay-once sketch table must exist")
    val stamp = dirF.listFiles().map(_.lastModified()).max
    val rows = SparkEntry.queries("b04_sketch_steady")(spark, sfDir).collect()
    assert(dirF.listFiles().map(_.lastModified()).max == stamp,
      "steady-state run must not rewrite the sketch table")
    assert(rows.nonEmpty && rows.forall(_.getBoolean(2)),
      s"merged estimates must stay inside the 5% bound: ${rows.mkString}")
  }

  test("x84 sketch rollup: stage 2 aggregates sketch partials, never rescanning wide orders") {
    val plan = planOf("x84_sketch_rollup")
    // both sketch aggs are object-hash aggregates with partial_ modes —
    // the rollup merge must appear as hll_union_agg over the stage-1
    // partials
    assert(plan.contains("hll_union_agg") && plan.contains("kll_merge_agg"),
      plan.take(3000))
  }

  test("x93 join-size estimate: sketch branches combine map-side; relations meet only in the audit join") {
    val plan = planOf("x93_cms_joinsize")
    // both CMS branches must carry partial_count on the derived (r, b)
    // keys so only O(d*w) cells cross the wire per relation
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(plan.contains("hashpartitioning(_groupingexpression"),
      "sketch exchanges must be keyed by the derived (r, b) pair:\n"
        + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only nested-loop is the 1-row x 1-row cross stitching the two
    // scalar aggregates into the output row — certified-small by
    // construction, never data-sized
    assert(plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, plan.take(3000))
  }

  test("x94 KMV: sketches build as object-hash aggregates with map-side partials; pair math is broadcast") {
    val plan = planOf("x94_kmv_cardinality")
    assert(plan.contains("ObjectHashAggregate"),
      "bottom-k UDAF must run as ObjectHashAggregate:\n" + plan.take(3000))
    assert(plan.contains("partial_bottomkdistinctlongaggregator"),
      "KMV partials must combine map-side (k longs per partition):\n"
        + plan.take(3000))
    assert(plan.contains("BroadcastExchange"),
      "pair/size joins over the sources-row frames must broadcast:\n"
        + plan.take(3000))
  }

  test("x95 sorted neighborhood: band join is an equi-join — no inequality nested loop, no data-wide window") {
    val plan = planOf("x95_sorted_neighborhood")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the pair join must be an equi-join KEYED on the rank band (the
    // rank-distance predicate rides it as a post-join condition); the
    // only nested-loops in the plan are the ordinal machinery's 1-row
    // broadcast scaffolding (sample count + range bounds), never a
    // data-sized side
    assert(plan.contains("Join [blk"),
      "neighbor pairs must come from the banded equi-join:\n"
        + plan.take(3000))
    // the only unpartitioned window is the ordinal machinery's bounded
    // range frame (over splits rows) and sample sort; the best-match step
    // must be the partial-aggregable min(struct), not a window rank
    assert(plan.contains("partial_min"),
      "survivorship must combine map-side:\n" + plan.take(3000))
    assert(plan.contains("jaro_winkler"), plan.take(3000))
  }

  test("x96 pHash near-dup: signature is map-side; candidates from the block equi-join only") {
    val plan = planOf("x96_phash_neardup")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      "near-dup candidates must come from pigeonhole blocks:\n"
        + plan.take(3000))
  }

  test("x99 edit-distance join: candidates from rare-gram equi-joins; prefix ranks push down as group limits") {
    val plan = planOf("x99_editdist_join")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the gram equi-join:\n" + plan.take(3000))
    // the per-name rank<=5 prefix selection must push a map-side
    // WindowGroupLimit so only 5 grams per name reach the rank exchange
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("b05 ANN steady state: corpus scan is statically partition-pruned to the probed cells") {
    val df = SparkEntry.queries("b05_ann_steady")(spark, sfDir)
    df.collect() // materializes the pay-once layout if absent
    val plan = SparkEntry.queries("b05_ann_steady")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "probe cells must prune partitions at the scan:\n" + plan.take(3000))
    // layout is pay-once: a second run must not rewrite it
    val dirF = new java.io.File(Scratch.dir("ivf", sfDir))
    assert(dirF.isDirectory)
    val stamp = dirF.listFiles().map(_.lastModified()).max
    SparkEntry.queries("b05_ann_steady")(spark, sfDir).collect()
    assert(dirF.listFiles().map(_.lastModified()).max == stamp,
      "steady-state run must not rewrite the cell layout")
  }

  test("b06 IVM steady state: pay-once view is idempotent; merged view equals the recompute") {
    SparkEntry.queries("b06_ivm_steady")(spark, sfDir).collect()
    val dirF = new java.io.File(Scratch.dir("ivm", sfDir))
    assert(dirF.isDirectory, "pay-once view must exist")
    val stamp = dirF.listFiles().map(_.lastModified()).max
    val rows = SparkEntry.queries("b06_ivm_steady")(spark, sfDir).collect()
    assert(dirF.listFiles().map(_.lastModified()).max == stamp,
      "steady-state run must not rewrite the view")
    assert(rows.nonEmpty && rows.forall(_.getBoolean(3)),
      s"merged view must equal the recompute: ${rows.mkString}")
    // the fact table is scanned exactly twice: once for the delta
    // branch and once for the audit recompute (which doesn't exist in
    // production) — the merged view itself never re-reads it
    val plan = SparkEntry.queries("b06_ivm_steady")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val factScans = "orders\\.parquet".r.findAllIn(plan).size
    assert(factScans == 2,
      s"expected delta + audit fact scans only, got $factScans:\n"
        + plan.take(3000))
    assert(plan.contains("graft_ivm_"),
      "steady state must read the persisted view:\n" + plan.take(3000))
  }

  test("x110 salted join: the equi-join is keyed on (k, _salt); the dimension replicates via generate") {
    val plan = planOf("x110_salted_join")
    // the salt must be a REAL join key (spreading the hot key across
    // buckets), not a post-join filter
    assert("HashJoin \\[k#\\d+L?, _salt#\\d+".r.findFirstIn(plan).isDefined,
      "join must be keyed on (k, _salt):\n" + plan.take(3000))
    // the right side replicates once per salt value via explode(sequence)
    assert(plan.contains("Generate explode"),
      "dimension must replicate per salt:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("x112 CUSUM: the daily agg and both detector windows ride ONE user hash exchange") {
    val plan = planOf("x112_cusum_alarms")
    // partitioning on the user subset satisfies the (user, day) agg AND
    // the running-sum/running-min windows — a second hashpartitioning
    // means the subset-clustering trick regressed
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1,
      s"agg + windows must share one user exchange, got $n:\n"
        + plan.take(3000))
  }

  test("b07 advisor-driven join order: leaf joins are exactly the chosen pairs, pinned shuffled-hash") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = SparkEntry.queries("b07_join_order")(spark, sfDir)
    val row = df.collect()(0)
    val best = row.getString(0).split("-").toSet
    val worst = row.getString(1).split("-").toSet
    assert(row.getBoolean(8), "both execution orders must agree on the result")
    // join ORDER is decided on the logical plan (ReorderJoin runs
    // there) — pin it where a reorder would show. AQE stage boundaries
    // make the physical tree unwalkable for this; the logical tree is
    // the authoritative order anyway.
    val lp = df.queryExecution.optimizedPlan
    def tables(n: LogicalPlan): Set[String] = n.collect {
      case l: LogicalRelation => l.relation match {
        case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          f.location.rootPaths.map(_.getName).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet.map((s: String) => s.stripSuffix(".parquet"))
    // a LEAF join (no join beneath it) is a FIRST join of some branch:
    // the two 3-way chains must open with the advisor's best pair and
    // the anti-advisor's worst pair respectively — if Catalyst reordered
    // a chain, some leaf join would scan a pair the advisor never chose
    val leafJoins = lp.collect {
      case j: LJoin if j.children.forall(
        _.collect { case jj: LJoin => jj }.isEmpty) => j
    }
    assert(leafJoins.nonEmpty, "expected leaf joins in the logical plan")
    val pairs = leafJoins.map(tables)
    assert(pairs.forall(pr => pr == best || pr == worst),
      s"every first join must be an advisor-chosen pair: got $pairs, " +
        s"best=$best worst=$worst")
    assert(pairs.contains(best) && pairs.contains(worst),
      s"both experiment arms must execute their first join: $pairs")
    // strategy stays pinned shuffled-hash — a stats-less flip to SMJ
    // would sort the fan-out intermediate (the q111 class)
    val phys = df.queryExecution.sparkPlan
    assert(phys.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "SMJ flip in the b07 join tree")
    assert(phys.toString.contains("ShuffledHashJoin"),
      "the pinned joins must plan shuffled-hash")
  }

  test("b08 AQP steady state: pay-once sample is idempotent; estimate reads the sample, never the facts") {
    SparkEntry.queries("b08_aqp_steady")(spark, sfDir).collect()
    val dirF = new java.io.File(Scratch.dir("pps", sfDir))
    assert(dirF.isDirectory, "pay-once sample must exist")
    val stamp = dirF.listFiles().map(_.lastModified()).max
    val rows = SparkEntry.queries("b08_aqp_steady")(spark, sfDir).collect()
    assert(dirF.listFiles().map(_.lastModified()).max == stamp,
      "steady-state run must not rewrite the sample")
    assert(rows.nonEmpty)
    val plan = SparkEntry.queries("b08_aqp_steady")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the fact table is scanned exactly once — the exact-audit branch
    // (absent in production); the estimate branch reads the sample only
    val factScans = "orders\\.parquet".r.findAllIn(plan).size
    assert(factScans == 1,
      s"expected the audit fact scan only, got $factScans:\n"
        + plan.take(3000))
    assert(plan.contains("graft_pps_"),
      "steady state must read the persisted sample:\n" + plan.take(3000))
  }

  test("x39 vocab build: token_id is the range-split ordinal — no vocab-wide unpartitioned window remains") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = SparkEntry.queries("x39_vocab_build")(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other                    => other
      }
    val plan = p.toString
    // the data-sized numbering must be keyed by the deterministic range
    // id (the withIngestOrdinalFrom kernel), not a global orderBy
    assert("hashpartitioning\\(_rb#\\d+".r.findFirstIn(plan).isDefined,
      "token_id must come from the range-split ordinal:\n" + plan.take(3000))
    // any remaining unpartitioned window must be one of the kernel's two
    // bounded frames: the sample sort (child carries the pmod(hash)
    // sample filter) or the per-range offsets (child aggregates by _rb,
    // `splits` rows max) — never the full vocabulary
    p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        val sampleSort = w.child.collect {
          case f: FilterExec if f.condition.toString.contains("pmod") => f
        }.nonEmpty
        val rangeOffsets = w.child.collect {
          case a: HashAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("_rb")) => a
        }.nonEmpty
        assert(sampleSort || rangeOffsets,
          "unpartitioned window over an unbounded frame:\n"
            + w.toString.take(2000))
      }
  }

  test("x79 band census is single-pass: config count never multiplies scans or agg branches") {
    // the r9 shape unioned one (cost agg + 2 recall joins) BRANCH PER
    // CONFIG — 3 configs = 9 passes over the signature cache. The r10
    // shape explodes a literal config dimension: exactly ONE
    // posexplode-fed bucket agg and ONE recall join pair regardless of
    // config count. Generate+PosExplode appears once; a per-config
    // union would print it once per branch.
    val plan = planOf("x79_lsh_tuning")
    val posexplodes = "posexplode".r.findAllIn(plan).size
    assert(posexplodes == 1,
      s"expected ONE posexplode (single cost pass), got $posexplodes:\n"
        + plan.take(3000))
    // the r9 shape assembled per-config branches with a Union; the r10
    // shape assembles results by joining the two aggs onto the literal
    // config frame — no Union anywhere
    assert(!plan.contains("Union"),
      "per-config union branches are back:\n" + plan.take(3000))
  }

  test("x119 windowed near-dup: candidates come from an equi-join carrying the time cell — never a data-sized nested loop") {
    val plan = planOf("x119_windowed_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the candidate join's equi keys must include the band pair AND the
    // coarse time cell (_c = _cb) — the |Δt| predicate is the residual
    // condition, not the join driver
    assert(plan.contains("_c#") && plan.contains("_cb#"),
      "time-cell key missing from the candidate join:\n" + plan.take(3000))
    assert("abs\\(\\(_ta#\\d+L? - _tb#\\d+L?\\)\\)".r.findFirstIn(plan).isDefined,
      "the exact horizon predicate must ride the join:\n" + plan.take(3000))
  }

  test("x120 k-core peel round: two pinned shuffle_hash semi joins + keyed agg — no broadcast flip, no cartesian") {
    import graft.ops.GraphOps
    val edges = spark.range(200).selectExpr(
      "id % 50 as src", "(id * 7 + 1) % 50 as dst")
    val plan = GraphOps.kCoreRound(edges.toDF(), 3)
      .queryExecution.sparkPlan.toString
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shj == 2,
      s"peel round must be exactly two shuffle_hash semi joins, got $shj:\n"
        + plan.take(3000))
    assert("LeftSemi".r.findAllIn(plan).size == 2, plan.take(3000))
    // stats-less loop frames must never flip to broadcast (a per-round
    // re-plan hazard) or degrade to a nested loop
    assert(!plan.contains("BroadcastHashJoin") &&
           !plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("HashAggregate"),
      "degree count must be a keyed hash aggregate:\n" + plan.take(3000))
  }

  test("b09 executed chain: advised order is the physical join order; all chain joins pinned shuffle_hash") {
    val df = SparkEntry.queries("b09_join_chain")(spark, sfDir)
    // strategy on sparkPlan (AQE hides joins behind QueryStageExec in
    // executedPlan), order on optimizedPlan (leaf print order = left-deep
    // join order)
    val phys = df.queryExecution.sparkPlan.toString
    val shj = "ShuffledHashJoin".r.findAllIn(phys).size
    assert(shj == 6,
      s"two 4-relation chains = 6 pinned SHJ joins, got $shj:\n" + phys.take(3000))
    assert(!phys.contains("CartesianProduct"), phys.take(3000))
    // the only non-equi join allowed is the 1-row × 1-row combine of the
    // greedy and anti-greedy aggregates
    assert("BroadcastNestedLoopJoin".r.findAllIn(phys).size <= 1,
      phys.take(3000))
    // re-derive the advice the query computed and check the FIRST chain's
    // leaf order in the optimized plan matches it (left-deep reduce ⇒
    // leaves print in join order)
    import graft.ops.JoinAdvisorOps
    val rels = Map(
      "customer" -> ("customer", "c_custkey"),
      "events" -> ("events", "user_id"),
      "orders" -> ("orders", "o_custkey"),
      "supplier" -> ("supplier", "s_suppkey"))
    val sk = rels.map { case (n, (t, k)) =>
      n -> JoinAdvisorOps.sketch(
        Tables(spark, sfDir, t).select(col(k).cast("string").as("k")), "k") }
    val order = JoinAdvisorOps.advise(sk).greedyOrder(rels.keys.toSeq.sorted)
    val opt = df.queryExecution.optimizedPlan.toString
    // each relation is identified by its distinctive key column (the plan
    // string elides file paths); first occurrence = its scan in chain 1
    val firstPos = order.map { n =>
      val p = opt.indexOf(rels(n)._2)
      assert(p >= 0, s"scan of $n not found in plan:\n" + opt.take(3000))
      p
    }
    assert(firstPos == firstPos.sorted,
      s"physical leaf order must follow the advised order $order:\n" +
        opt.take(3000))
    spark.catalog.clearCache()
  }

  test("x151 advised revenue: the physical chain follows the advisor's order; all chain joins pinned shuffle_hash") {
    val df = SparkEntry.queries("x151_advised_revenue")(spark, sfDir)
    val phys = df.queryExecution.sparkPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(phys).size == 3,
      s"4-relation chain = 3 pinned SHJ joins:\n" + phys.take(3000))
    assert(!phys.contains("CartesianProduct") &&
           !phys.contains("BroadcastNestedLoopJoin"), phys.take(3000))
    // re-derive the advice and check the left-deep leaf order (in a
    // left-deep chain the Relation leaves print depth-first in join
    // order — the b09 device, made robust by reading the leaf lines
    // themselves: agg/groupBy columns at the plan top would fool a
    // plain indexOf)
    import graft.ops.JoinAdvisorOps
    import graft.ops.JoinAdvisorOps.JoinEdge
    val rels = Map(
      "lineitem" -> Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
                col("l_discount")),
      "orders" -> Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
      "customer" -> Tables(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
      "nation" -> Tables(spark, sfDir, "nation")
        .select(col("n_nationkey"), col("n_name")))
    val edges = Seq(
      JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
      JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
      JoinEdge("customer", "c_nationkey", "nation", "n_nationkey"))
    val order = JoinAdvisorOps.adviseGraph(rels, edges)
      .greedyOrder(rels.keys.toSeq.sorted)
    // dimensions must precede the facts (the whole point of consulting
    // the stats): nation/customer open, lineitem joins last
    assert(order.last == "lineitem", s"advised order: $order")
    val opt = df.queryExecution.optimizedPlan.toString
    val prefix2rel = Map("l_" -> "lineitem", "o_" -> "orders",
                         "c_" -> "customer", "n_" -> "nation")
    val leafOrder = "Relation \\[(\\w\\w)".r.findAllMatchIn(opt)
      .map(m => prefix2rel(m.group(1))).toSeq
    assert(leafOrder == order,
      s"physical leaf order $leafOrder must follow the advised order " +
        s"$order:\n" + opt.take(3000))
    spark.catalog.clearCache()
  }

  test("x103 steady state stays inside its Spark-jobs budget") {
    // x103's wall clock at local[32] is structural JOB COUNT (pointer-
    // jumping rounds × one lazy-checkpoint job each), not data volume —
    // this pins the count so silent growth is caught. First run builds
    // the pay-once history artifact (labels + partials); the budgeted
    // run is the steady state: batch linkage + ONE propagation.
    SparkEntry.queries("x103_golden_incremental")(spark, sfDir).count()
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("x103_golden_incremental")(spark, sfDir).count()
      // the listener bus is async; drain before reading the counter
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    // steady state measured at 2026-08: ~20 jobs (star+batch propagation
    // converges in ≤4 pointer-jumping rounds on this fixture). Budget 30
    // leaves room for one extra round, not for a second full propagation
    // (the r10 shape was 52).
    assert(jobs.get() <= 30,
      s"x103 steady state took ${jobs.get()} Spark jobs — structural " +
        "round count grew; re-profile the propagation loops")
    spark.catalog.clearCache()
  }

  test("x118 BPE application is one codegen'd projection — no interpreted HOF fold chain") {
    // the merge chain lives in aggregate-result/projection expressions,
    // which the physical plan string elides — pin on the optimized
    // logical plan, where they print in full
    val plan = SparkEntry.queries("x118_bpe_vocab")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // K merges must collapse into native string replaces inside one
    // projection (codegen'd), not nested aggregate() lambda folds
    // (never codegen'd — measured 4.5× slower end-to-end)
    assert(plan.contains("replace("),
      "apply chain should be native string replaces:\n" + plan.take(3000))
    assert(!plan.contains("aggregate(lambdafunction"),
      "apply chain regressed to interpreted HOF folds:\n" + plan.take(3000))
  }

  test("x125 k-means assignment is a single projection — no join, no aggregate, no shuffle but the output sort") {
    // centroids are driver-side literals, so the k-way argmin must compile
    // to one array_min projection (the r11 rewrite: the broadcast-join +
    // min(struct) re-aggregation form cost a SortAggregate and an exchange
    // per assignment pass)
    val plan = planOf("x125_kmeans_embed")
    assert(plan.contains("array_min"), plan.take(3000))
    assert(!plan.contains("Join"), "assignment must not join:\n" + plan.take(3000))
    assert(!plan.contains("Aggregate"),
      "assignment must not re-aggregate:\n" + plan.take(3000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"only the orderBy range exchange is allowed, got $exchanges:\n" +
        plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x126/x128 pair joins are cell-keyed equi joins over the cached cluster index") {
    for (name <- Seq("x126_semantic_dedup", "x128_semantic_incremental",
                     "x133_semantic_scaled")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name:\n" + plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join degraded to a nested loop:\n" + plan.take(3000))
      // the join must drive on the cell key (equi), with the cosine
      // threshold as residual — and both sides must read the eagerly
      // cached assignment, not re-derive the argmin per probe (measured
      // 4x at the sf1 probe)
      assert("Join \\[cell#".r.findFirstIn(plan).isDefined ||
             "Join LeftKeys \\[cell".r.findFirstIn(plan).isDefined ||
             plan.contains("[cell#"), s"$name cell key missing:\n" + plan.take(3000))
      assert(plan.contains("InMemoryTableScan"),
        s"$name must consume the cached cluster index:\n" + plan.take(3000))
    }
    spark.catalog.clearCache()
  }

  test("x129 PQ encode is a single projection — no join, no aggregate, no shuffle but the output sort") {
    val plan = planOf("x129_pq_encode")
    assert("array_min".r.findAllIn(plan).size >= 4,
      "expected one literal argmin per subspace:\n" + plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Aggregate"), plan.take(3000))
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x130 PQ recall: the ADC arm scans codes with a literal LUT; only the probe-set arms nested-loop") {
    val plan = planOf("x130_pq_recall")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2,
      s"expected <= 2 probe-set nested loops, got $bnlj:\n" + plan.take(3000))
    // the ADC distance must be an element_at LUT lookup, not a join
    // against a centroid table
    assert(plan.contains("element_at"),
      "ADC LUT lookup missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x131 IVF-ADC serving: cell-pruned equi join over the code index, ADC via literal LUT") {
    val plan = planOf("x131_ivfadc_search")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only nested loop is the 10-query × 8-centroid probe cross join;
    // the candidate scan must drive on the cell equi key
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"expected <= 1 probe nested loop, got $bnlj:\n" + plan.take(3000))
    assert(plan.contains("element_at"),
      "ADC LUT lookup missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x127 recall audit: only the tiny probe-set arms may nested-loop; never the corpus against itself") {
    val plan = planOf("x127_ivf_recall")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // exact arm (20-query broadcast x corpus) and the probe-cell crossJoin
    // are the two legitimate broadcast nested loops; anything more means
    // a data-sized side slipped into a non-equi join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2,
      s"expected <= 2 probe-set nested loops, got $bnlj:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x137 RRF fusion: lexical arm drives on the word postings equi-join; only the probe-set semantic arm may nested-loop") {
    val plan = planOf("x137_rrf_fusion")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"expected <= 1 probe-set nested loop, got $bnlj:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x136 repetition metrics are one projection — no explode, no join, no shuffle but the output sort") {
    val plan = planOf("x136_doc_repetition")
    assert(!plan.contains("Generate"), // explode would be a row blow-up
      "per-row fold must not explode:\n" + plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, // the ORDER BY doc_id range exchange
      s"expected only the output-sort exchange, got $exchanges:\n" +
        plan.take(2000))
    spark.catalog.clearCache()
  }

  test("x135 k-anonymize: each ladder level is a broadcast of dimension-sized counts; only the 1-row total may nested-loop") {
    val plan = planOf("x135_k_anonymize")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"expected <= 1 total-count nested loop, got $bnlj:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "level counts must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x134 DBSCAN: eps-pairs come from the 9-offset cell equi-join — no data-sized nested loop anywhere") {
    val plan = planOf("x134_dbscan_grid")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // candidate generation must drive on the (cx, cy) grid-cell keys
    assert(plan.contains("cx") && plan.contains("cy"),
      "grid-cell join keys missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x138 NN-Descent: every candidate sweep is a keyed equi-join — no cartesian, no data-sized nested loop") {
    val plan = planOf("x138_knn_graph")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the neighbors-of-neighbors sweep drives on the shared middle vertex
    assert(plan.contains("mid"),
      "mid-vertex join key missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x139 l-diversity: level stats broadcast like x135; only the 1-row total may nested-loop") {
    val plan = planOf("x139_l_diversity")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"expected <= 1 total-count nested loop, got $bnlj:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "level stats must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x140 DP counts: one keyed aggregate, noise is a projection — no join at all") {
    val plan = planOf("x140_dp_counts")
    assert(!plan.contains("Join"), "noise must not join:\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x143 hashed DSIR: the bucket model broadcasts (the x24/x56 flip guard); only the 1-row totals may nested-loop") {
    val plan = planOf("x143_hashed_dsir")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"expected <= 1 totals nested loop, got $bnlj:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket model must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x153 NB classifier: the class-count model broadcasts; only 1-row frames may nested-loop") {
    val plan = planOf("x153_nb_quality")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // exactly two 1-row nested loops: totals × prior (1-row × 1-row
    // assembling the consts frame) and consts × the scoring stream —
    // a third would mean a data-sized frame slipped into a cross join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2,
      s"expected <= 2 one-row nested loops, got $bnlj:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "class-count model must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x154 quality tertiles: the per-source cutoff table broadcasts back onto the docs — no cartesian, no data-sized nested loop") {
    val plan = planOf("x154_quality_tertiles")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "cutoffs must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x155 audio VAD: per-row frame explode, windows keyed by doc — no join at all") {
    val plan = planOf("x155_audio_vad")
    assert(!plan.contains("Join"), "VAD plan must not join:\n" + plan.take(3000))
    assert(plan.contains("Generate") && plan.contains("Window"),
      plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x156 three-way merge: two keyed full-outer joins on doc_id — no cartesian, no nested loop") {
    val plan = planOf("x156_threeway_merge")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert("FullOuter".r.findAllIn(plan).size == 2,
      "expected exactly 2 full-outer joins:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x157 threshold audit: the curve reads the CACHED score domain; only the 1-row totals loop sits above the cache") {
    val plan = planOf("x157_nb_threshold_audit")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the collapsed domain must be persisted (an unpersisted second
    // consumer replays the whole x153 scoring chain — the x143 lesson);
    // x153's own 1-row loops live INSIDE the cached relation, so the
    // section above the first cache boundary holds exactly the curve's
    // totals loop and the window
    assert(plan.contains("InMemoryRelation"),
      "score domain must be cached:\n" + plan.take(3000))
    val top = plan.split("InMemoryRelation")(0)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(top).size
    assert(bnlj <= 1,
      s"expected <= 1 totals loop above the cache, got $bnlj:\n" +
        top.take(3000))
    assert(top.contains("Window"), top.take(3000))
    spark.catalog.clearCache()
  }

  test("x158 curation funnel: tertile cutoffs broadcast, dedup joins keyed on the fingerprint — no cartesian, no data-sized nested loop") {
    val plan = planOf("x158_curation_funnel")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("_fp"),
      "fingerprint join key missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x159 incremental funnel: frozen cutoffs broadcast, index dedup keyed on the fingerprint — no cartesian, no data-sized nested loop") {
    val plan = planOf("x159_funnel_incremental")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("_fp"),
      "fingerprint join key missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x160 unimax allocation: one corpus aggregate, then |groups|-row arithmetic — only 1-row/tiny frames nested-loop") {
    val plan = planOf("x160_unimax_alloc")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // tot and base are 1-row broadcasts onto the |groups|-row cached
    // domain — nothing data-sized may appear in a cross join
    assert(plan.contains("InMemoryRelation"),
      "group counts must be cached:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x161 Luhn screen: a pure per-row projection — no join, no aggregate, no shuffle beyond the output sort") {
    val plan = planOf("x161_luhn_screen")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x147 incremental kNN: frozen-cell mates + adjacency hop are keyed equi-joins — no cartesian, no data-sized nested loop") {
    val plan = planOf("x147_knn_incremental")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the hop drives on the frozen graph's source vertex
    assert(plan.contains("cell") && plan.contains("cid"),
      "cell/adjacency join keys missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x166 capped incremental kNN: the mate cap is a per-cell rank (the batch×cell frame never materializes); everything keyed") {
    val plan = planOf("x166_knn_incremental_capped")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the cap is computed on the corpus side (per-cell window on `cid`)
    // BEFORE the batch join — a cap applied after a |batch|·|cell| join
    // would defeat the governance
    assert(plan.contains("mrn"),
      "per-cell mate-cap rank missing:\n" + plan.take(3000))
    assert(plan.contains("cell") && plan.contains("cid"),
      "cell/adjacency join keys missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x169 ORC roundtrip: the ORC scan prunes to the audited columns") {
    val plan = planOf("x169_orc_roundtrip")
    assert(plan.toLowerCase.contains("orc"),
      "expected an ORC scan:\n" + plan.take(2000))
    // l_orderkey is not part of the audit — a scan reading all 16
    // columns for a 6-column aggregate would be wrong (the pushdown/
    // pruning contract holds for ORC exactly as for parquet)
    assert(!plan.contains("l_orderkey"),
      "unused columns must be pruned from the ORC scan:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x172 ORC partitioned: scan statically pruned to the R partition, shipdate range pushed into the ORC reader, unused columns pruned") {
    val df = SparkEntry.queries("x172_orc_partitioned")(spark, sfDir)
    df.collect() // materializes the pay-once layout if absent
    val plan = SparkEntry.queries("x172_orc_partitioned")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("orc"),
      "expected an ORC scan:\n" + plan.take(2000))
    assert(plan.contains("PartitionFilters: [") &&
           plan.contains("l_returnflag"),
      "the returnflag predicate must prune partitions at the scan:\n" +
        plan.take(3000))
    // the shipdate range reaches the ORC reader — row groups outside it
    // never decompress (the parquet PushedFilters contract, same surface)
    assert(plan.contains("PushedFilters: [") &&
           plan.contains("GreaterThanOrEqual(l_shipdate"),
      "the shipdate range must push into the ORC reader:\n" +
        plan.take(3000))
    assert(!plan.contains("l_orderkey"),
      "unused columns must be pruned from the ORC scan:\n" + plan.take(3000))
    // layout is pay-once: a second run must not rewrite it
    val dirF = new java.io.File(Scratch.dir("orcp", sfDir))
    val stamp = dirF.listFiles().map(_.lastModified()).max
    SparkEntry.queries("x172_orc_partitioned")(spark, sfDir).collect()
    assert(dirF.listFiles().map(_.lastModified()).max == stamp,
      "steady-state run must not rewrite the ORC layout")
    spark.catalog.clearCache()
  }

  test("x179 dynamic partition pruning: the fact scan carries the dimension-driven dynamicpruningexpression and reads 1 of 3 partitions") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    SparkEntry.queries("x179_dpp_star_prune")(spark, sfDir)
      .collect() // materializes the pay-once fact + dim layouts
    val df = SparkEntry.queries("x179_dpp_star_prune")(spark, sfDir)
    df.collect() // executes the steady-state plan — populates metrics
    val root = df.queryExecution.executedPlan
    val plan = root.toString
    assert(plan.toLowerCase.contains("orc"),
      "expected an ORC fact scan:\n" + plan.take(2000))
    // the prune is injected at RUNTIME from the filtered dimension —
    // no l_returnflag literal exists anywhere in the query text
    assert(plan.contains("dynamicpruningexpression"),
      "the dimension-driven prune must reach the fact scan's " +
        "PartitionFilters:\n" + plan.take(3000))
    // runtime proof that the non-matching partitions were SKIPPED, not
    // just filtered: the scan's partitions-read metric
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => Seq(f)
      case o => o.children.flatMap(walk)
    }
    val scans = walk(root)
    assert(scans.nonEmpty, "no partition-filtered scan found:\n" +
      plan.take(3000))
    val parts = scans.head.metrics("numPartitions").value
    assert(parts == 1L,
      s"expected 1 of 3 partition directories read, got $parts")
    spark.catalog.clearCache()
  }

  test("x181 ingest compaction: both arms of the maintained read prune on the business partition; the live tail prunes folded batches at the _batch_id level") {
    SparkEntry.queries("x181_ingest_compaction")(spark, sfDir)
      .collect() // materializes the pay-once ingest + compaction fixture
    val plan = SparkEntry.queries("x181_ingest_compaction")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // generation arm AND live-tail arm each prune to the R partition —
    // the returnflag predicate pushes through the union into both scans
    val pruned = "PartitionFilters: \\[[^\\]]*l_returnflag"
      .r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected the partition prune on both union arms, saw $pruned:\n" +
        plan.take(3000))
    // the tail scan skips folded batches by the _batch_id PARTITION
    // level (a directory skip, not a row filter)
    assert("PartitionFilters: \\[[^\\]]*_batch_id".r.findAllIn(plan)
      .nonEmpty,
      "the live tail must prune _batch_id > watermark as a partition " +
        "filter:\n" + plan.take(3000))
    // the fold is real: the folded live batch dirs are gone (vacuumed),
    // the committed generation carries them
    val root = Scratch.dir("ingc", sfDir)
    assert(graft.io.Compaction
      .batchDirs(spark, s"$root/live").map(_._1).forall(_ > 3L),
      "folded batch directories must be vacuumed")
    assert(graft.io.Compaction
      .compactedThrough(spark, s"$root/compact") == 3L)
    spark.catalog.clearCache()
  }

  test("x184 ingest range serve: the generation scan opens FEWER files than the generation holds (manifest skip), the range pushes into both scans, the tail prunes _batch_id") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    SparkEntry.queries("x184_ingest_range_serve")(spark, sfDir)
      .collect() // materializes the pay-once ingest + fold + manifest
    val df = SparkEntry.queries("x184_ingest_range_serve")(spark, sfDir)
    df.collect() // populates scan metrics
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
           plan.contains("GreaterThanOrEqual(l_shipdate"),
      "the range must push into the parquet reader on the served " +
        "arms:\n" + plan.take(3000))
    assert("PartitionFilters: \\[[^\\]]*_batch_id".r.findAllIn(plan)
      .nonEmpty,
      "the live tail must prune folded batches at the _batch_id " +
        "level:\n" + plan.take(3000))
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case o => o.children.flatMap(walk)
    }
    val root = Scratch.dir("ingr", sfDir)
    val genScans = walk(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/compact/gen_")))
    assert(genScans.nonEmpty, "no generation-side scan found:\n" +
      plan.take(3000))
    val opened = genScans.map(_.metrics("numFiles").value).sum
    val total = graft.io.Compaction
      .dataFiles(spark, s"$root/compact/gen_3").size
    assert(opened < total,
      s"manifest skip did nothing: opened $opened of $total generation " +
        "files")
    spark.catalog.clearCache()
  }

  test("x182 runtime bloom join: might_contain injected on the fact side BELOW its exchange; the creation side builds bloom_filter_agg from the filtered dimension") {
    val plans = allPlansOf("x182_runtime_bloom_join")
    val p = plans.find(_.contains("might_contain")).getOrElse(
      fail("no plan carries the injected runtime bloom filter; plans:\n" +
        plans.map(_.take(500)).mkString("\n---\n")))
    assert(p.contains("bloom_filter_agg"),
      "the creation side must aggregate the filtered dimension keys " +
        "into a bloom filter:\n" + p.take(3000))
    // printed top-down, the fact-side Exchange sits ABOVE the injected
    // Filter — rows drop BEFORE they are shuffled, which is the whole
    // point at 100 TB (the filter prunes shuffle volume, not results)
    val ex = p.indexOf("Exchange hashpartitioning(l_orderkey")
    val mc = p.indexOf("might_contain")
    assert(ex >= 0 && mc > ex,
      "the injected filter must sit below the fact-side shuffle:\n" +
        p.take(3000))
    spark.catalog.clearCache()
  }

  test("x183 AQE skew split: the hot partition splits at runtime — SortMergeJoin(skew=true) over an AQEShuffleRead marked skewed") {
    val plans = allPlansOf("x183_aqe_skew_split")
    val p = plans.find(_.contains("SortMergeJoin(skew=true)")).getOrElse(
      fail("no plan carries the runtime skew split; plans:\n" +
        plans.map(_.take(400)).mkString("\n---\n")))
    assert(p.contains("skewed"),
      "the fact-side shuffle read must be marked skewed (mapper-range " +
        "slices of the hot partition):\n" + p.take(3000))
    spark.catalog.clearCache()
  }

  test("x167 BPE train: every round is a keyed pair agg + a singleton merge-rule broadcast — no cartesian") {
    val plans = allPlansSansCachedOf("x167_bpe_train")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    // the per-round crossJoin glues the 1-ROW argmax frame onto the
    // vocab domain (prints as a broadcast nested loop; one side is a
    // single row by construction); the corpus-sized work is only the
    // word-count scan and the pair aggregation
    assert(plans.exists(_.contains("HashAggregate")),
      s"pair-count aggregation missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  test("x168 BPE segment: frozen merges apply by fold; the doc arm is one keyed word join") {
    val plans = allPlansSansCachedOf("x168_bpe_segment")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    assert(plans.exists(p => p.contains("word")),
      s"word-keyed doc join missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  /** Run `name` to completion and capture EVERY QueryExecution's
    * executed plan — the per-hop localCheckpoint cascade in the graph
    * serving loop truncates lineage, so the returned frame's own plan no
    * longer shows the hop joins; the listener sees each hop's action. */
  private def allPlansOf(name: String): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, sfDir).count()
      // listener delivery is async; poll until the plan stream settles
      var last = -1
      var settled = 0
      while (settled < 3) {
        Thread.sleep(200)
        val n = l.synchronized(plans.length)
        if (n == last) settled += 1 else { settled = 0; last = n }
      }
    } finally spark.listenerManager.unregister(l)
    plans.toSeq
  }

  test("x148 graph serving: every hop is a keyed adjacency equi-join — no cartesian, no data-sized nested loop") {
    val plans = allPlansOf("x148_graph_search")
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), p.take(3000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    }
    // the expansion drives on the frozen graph's source vertex (visible
    // in the hop actions the checkpoint cascade runs)
    assert(plans.exists(_.contains("__gu")),
      s"adjacency join key missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  test("x170 sharded serving: shard build is keyed adjacency self-joins, the serve is one keyed shard join — no cartesian, no nested loop") {
    // full plans INCLUDING cached subtrees: x170 has no deliberate
    // pay-once nested loop to double-count, and the closure build lives
    // under the shard cache scan, so the existence pin needs the origin
    // plan visible
    val plans = allPlansOf("x170_graph_serve_sharded")
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), p.take(3000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    }
    // the closure expansion drives on the frozen graph's source vertex;
    // the serve joins queries to shards on the cell key
    assert(plans.exists(_.contains("__gu")),
      s"closure-expansion join key missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  test("serving shards at rest: the partitioned shard store prunes to the queried cells") {
    // the 100 TB deployment artifact, composed from x170 + x172's
    // devices: serveShards written PARTITIONED BY cell, so a serving
    // node's scan opens only ITS cells' directories — corpus growth
    // adds directories, and a query batch routed to two cells reads
    // exactly two
    SparkEntry.queries("x148_graph_search")(spark, sfDir).count() // kgr
    val kgr = Scratch.dir("kgr", sfDir)
    val sn = spark.read.parquet(s"$kgr/sn")
    val g = spark.read.parquet(s"$kgr/g")
      .select(org.apache.spark.sql.functions.col("u"),
              org.apache.spark.sql.functions.col("w"))
    val store = Scratch.dir("shardstore", sfDir)
    if (!new java.io.File(store, "_SUCCESS").exists())
      graft.io.TableIo.writePartitioned(
        graft.operators.GraphSearch.serveShards(g, sn, 4, 3),
        store, Seq("cell"))
    val plan = spark.read.parquet(store)
      .filter(org.apache.spark.sql.functions.col("cell").isin(0L, 1L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "the cell route must prune shard directories at the scan:\n" +
        plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x149 clustered recall twin: serving stays keyed; the only nested loop is the exact arm's broadcast ground truth") {
    val plans = allPlansOf("x149_graph_recall_clustered")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    // the exact arm (broadcast 20-query probe × corpus, <> condition) is
    // the deliberate Q·N ground-truth cost every recall audit pays
    // (x127/x130/x142 convention) — it may appear in the final action's
    // plan only
    val bnljPlans = plans.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnljPlans <= 1,
      s"only the exact arm's action may nested-loop, got $bnljPlans plans")
    assert(plans.exists(_.contains("__gu")),
      s"adjacency join key missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  /** Render an executed plan WITHOUT cached subtrees: a cached frame's
    * ORIGIN plan is reprinted (with its whole AQE history) under every
    * consumer's InMemoryTableScan, so an operator paid once into cache
    * (e.g. a deliberate broadcast nested loop) would otherwise be
    * counted once per consumer action. The walk descends through AQE
    * wrappers and stops at cache scans. */
  private def renderSansCached(
      root: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sb = new StringBuilder
    def walk(n: SparkPlan): Unit = {
      sb.append(n.simpleString(2000)).append('\n')
      n match {
        case _: InMemoryTableScanExec => // paid in its own action
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case other                    => other.children.foreach(walk)
      }
    }
    walk(root)
    sb.toString
  }

  /** [[allPlansOf]] with cached subtrees excluded — for pins that count
    * pay-once operators. */
  private def allPlansSansCachedOf(name: String): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        synchronized { plans += renderSansCached(qe.executedPlan) }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, sfDir).count()
      var last = -1
      var settled = 0
      while (settled < 3) {
        Thread.sleep(200)
        val n = l.synchronized(plans.length)
        if (n == last) settled += 1 else { settled = 0; last = n }
      }
    } finally spark.listenerManager.unregister(l)
    plans.toSeq
  }

  test("x163 seed insurance: three serves stay keyed; nested loops only for the exact arm and the Q×nlist quantizer probe") {
    val plans = allPlansSansCachedOf("x163_graph_seed_insurance")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    // two deliberate broadcast nested loops, each PAID ONCE into cache:
    // the exact arm's Q·N ground truth (x127/x130/x142 convention) and
    // the coarse ranking's Q × |cells| centroid probe — both
    // constant-size in corpus terms (Q=20 fixed, |cells| is the
    // quantizer's nlist). With cached reprints stripped, each appears
    // in exactly its own materialization action.
    val bnljPlans = plans.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnljPlans <= 2,
      s"only the exact arm and the centroid probe may nested-loop, got $bnljPlans plans")
    assert(plans.exists(_.contains("__gu")),
      s"adjacency join key missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  test("x164 symmetrized serving: both graph variants serve through keyed expansions; only the exact arm nested-loops") {
    val plans = allPlansSansCachedOf("x164_graph_symmetrized")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    val bnljPlans = plans.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnljPlans <= 1,
      s"only the exact arm's action may nested-loop, got $bnljPlans plans")
    assert(plans.exists(_.contains("__gu")),
      s"adjacency join key missing from all ${plans.length} plans")
    spark.catalog.clearCache()
  }

  test("x165 serve diagnostic: corpus collapses to per-cell counts; nested loops only between singleton stat frames") {
    val plans = allPlansSansCachedOf("x165_serve_decision")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(3000)))
    // the diagnostic's crossJoins glue ONE-ROW frames (stats × median ×
    // total) — they print as broadcast nested loops but each side is a
    // single row by construction; the corpus-sized work is only the
    // keyed per-cell count, so no data-sized nested loop can appear
    plans.filter(_.contains("BroadcastNestedLoopJoin")).foreach { p =>
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        "a nested loop appeared outside the singleton stat assembly:\n" +
          p.take(3000))
    }
    spark.catalog.clearCache()
  }

  test("x145 hard negatives: candidates are cell-blocked equi-joins — no cartesian, no data-sized nested loop") {
    val plan = planOf("x145_hard_negatives")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("cell"),
      "cell-blocked join keys missing:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x146 cell downsample: centroids broadcast; both windows ride one cell exchange") {
    val plan = planOf("x146_cell_downsample")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "centroid frame must broadcast:\n" + plan.take(3000))
    // the rank window and the csize window share partitioning by cell:
    // exactly one hashpartitioning(cell...) exchange feeds them
    val cellEx = "Exchange hashpartitioning\\(cell".r.findAllIn(plan).size
    assert(cellEx == 1,
      s"expected one cell exchange for both windows, got $cellEx:\n" +
        plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x144 DP sums: clip + noise are projections around one keyed aggregate — no join at all") {
    val plan = planOf("x144_dp_sums")
    assert(!plan.contains("Join"), "noise must not join:\n" + plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    spark.catalog.clearCache()
  }

  test("x141 RTBF cascade: the deletion set broadcasts into LeftSemi probes; audits are 1-row combines") {
    val plan = planOf("x141_rtbf_cascade")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("LeftSemi"),
      "purge probes must be semi joins:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "the request set must broadcast:\n" + plan.take(3000))
    spark.catalog.clearCache()
  }
}
