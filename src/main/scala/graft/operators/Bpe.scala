package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.ops.CacheScope

/** Byte-pair-encoding merge LEARNING and application (x167/x168) — the
  * tokenizer-training member of the corpus toolbox (Sennrich et al.
  * 2016; the GPT-2/LLaMA vocabulary recipe).
  *
  * Everything runs on the DISTINCT-WORD VALUE DOMAIN (word, corpus
  * count) — the CCNet/house device: BPE statistics are a function of
  * the word-frequency table, never the raw corpus, so a round's cost is
  * bounded by |vocab| (Heaps-law growth) while counts still weight by
  * true corpus frequency. Per round: adjacent-pair counts (one explode
  * + map-side-combinable sum over the word domain), the argmax merge
  * pinned by (count DESC, a ASC, b ASC), and re-segmentation as a
  * PER-WORD greedy left-to-right fold (`aggregate` over the token
  * array — merge when the accumulator's last token is `a` and the
  * incoming token is `b`; a just-merged token can't re-merge because it
  * is the concatenation, which matches the canonical non-overlapping
  * scan: "aaaa" + (a,a) → [aa, aa]). The merge pair parameterizes each
  * round as a broadcast 1-row frame — fully declarative, nothing
  * driver-side.
  *
  * Training state (seg_r) is persisted per round under `scope` — each
  * round reads the previous twice (pair counts + fold), the x14/x120
  * iteration hygiene. 100 TB shape: the one corpus-sized job is the
  * word count; every round after runs on |vocab| rows. (Production
  * tokenizer training subsamples the corpus for the SAME reason — the
  * value-domain collapse is the exact equivalent with no sampling
  * noise.)
  */
object Bpe {

  /** (word, wcount) → initial character segmentation
    * (word, wcount, toks). */
  def initSeg(words: DataFrame): DataFrame =
    words.withColumn("toks",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Greedy left-to-right merge of (a, b) over a token array. */
  def applyMerge(toks: Column, a: Column, b: Column): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
             element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1),
                 array(concat(element_at(acc, -1), x))))
        .otherwise(concat(acc, array(x))))

  /** Adjacent-pair corpus counts of a segmentation. (The size ≥ 2
    * guard matters: Spark's `sequence(1, 0)` DESCENDS, so a 1-token
    * word would index out of bounds under ANSI mode.) */
  def pairCounts(seg: DataFrame): DataFrame =
    seg.filter(size(col("toks")) >= 2)
      .select(col("wcount"),
        explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i - 1] AS a, toks[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wcount")).as("cnt"))

  /** Learn `rounds` merges over (word, wcount). Returns
    * (round, a, b, cnt, vocab_size, total_tokens) — the merge table
    * WITH the training curve (vocab and corpus token count AFTER each
    * merge) — and the final segmentation (word, wcount, toks).
    *
    * Each round's state is EAGERLY localCheckpointed (the x14/x120
    * plan-truncation device, as in [[GraphSearch.search]]): a round
    * references the previous segmentation THREE times (pair counts,
    * fold, stats), so without truncation the analyzed tree grows 3^r
    * and Catalyst ANALYSIS — not the data — exhausts the heap by
    * round 8 (measured: OOM on a 3k-word domain). Checkpointed frames
    * are |vocab|-sized, so the materialization cost is negligible. */
  def train(words: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var seg = initSeg(words).localCheckpoint()
    // an EMPTY word domain would sail through every round untouched
    // (zero rows → the per-row exhaustion raise below never evaluates)
    // and return silently-empty merges — the one boundary the row-level
    // guard cannot see; one take(1) on the already-materialized
    // checkpoint, matching [[trainCollected]]'s contract
    require(seg.take(1).nonEmpty,
      "empty word domain — nothing to train on")
    var out: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val best = pairCounts(seg)
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(1)
        .localCheckpoint() // 1 row, read by the fold and the output
      // pair exhaustion fails LOUD, at ZERO extra jobs: an empty `best`
      // would silently erase the segmentation under a cross join (the
      // class the segmentWords artifact guards exist for), so
      // the merge frame attaches by LEFT join and a null merge rule
      // raises from the fold job itself — the raise must sit OUTSIDE
      // applyMerge's lambda (an exhausted domain is all 1-token words,
      // whose fold short-circuits before touching the rule) and
      // per-row, which is why the whole merged column is wrapped.
      // [[trainCollected]] enforces the same contract via require; an
      // A/B against a per-round count() guard timed identically at
      // bench SF — this form is kept for the job count (3/round, not
      // 4), which is what a many-round loop pays for.
      seg = seg.join(broadcast(best), lit(true), "left")
        .select(col("word"), col("wcount"),
                when(col("a").isNull, raise_error(lit(
                    s"round $r: no adjacent pairs left — every word is " +
                      s"one token; asked for $rounds rounds on a domain " +
                      "that exhausts sooner")).cast("array<string>"))
                  .otherwise(applyMerge(col("toks"), col("a"), col("b")))
                  .as("toks"))
        .localCheckpoint()
      val stats = seg.select(col("wcount"), explode(col("toks")).as("t"))
        .agg(countDistinct(col("t")).as("vocab_size"),
             sum(col("wcount")).as("total_tokens"))
      val row = best.crossJoin(broadcast(stats))
        .select(lit(r).as("round"), col("a"), col("b"), col("cnt"),
                col("vocab_size"), col("total_tokens"))
      out = Some(out.fold(row)(_ unionByName row))
    }
    (out.get, seg)
  }

  /** [[train]] for REALISTIC vocabulary sizes: collect the
    * word-frequency table ONCE (the same certified-small contract as
    * [[segmentWords]] — the value domain is |vocab| rows bounded by
    * Heaps-law growth, the bound every [[train]] round already lives
    * under) and learn ALL merges driver-side, merge-for-merge identical
    * to [[train]] (BpePropertySpec proves it on random corpora).
    *
    * Why this exists: [[train]] runs one Spark round PER MERGE — three
    * jobs each — which is perfect for 8 oracle-checkable rounds and
    * unusable for the 32k-merge vocabulary the GPT-2/LLaMA recipe
    * implies (32k driver iterations × per-job overhead dwarfs the
    * arithmetic). MEASURED on the sf0.01 word domain (ProbeBpe,
    * rounds=64 — the deepest the corpus's vocabulary supports before
    * pair exhaustion): the per-round loop takes 21.1 s (~0.33 s/round,
    * pure job overhead — the data is 31 rows) vs 0.83 s here, FLAT in
    * rounds; at 32k merges the loop extrapolates to ~3 hours of
    * scheduling against seconds of driver arithmetic. The deployment
    * shape at 100 TB: ONE corpus-sized distributed word count feeds
    * `words`; everything after is |vocab|-bounded driver arithmetic —
    * exactly how production BPE trainers (GPT-2's, SentencePiece)
    * structure the work.
    *
    * Determinism notes, pinned to [[train]]'s semantics: words split to
    * CODE POINTS (Spark's `substring`/`length` are code-point-based);
    * the argmax tie-break (cnt DESC, a ASC, b ASC) compares strings in
    * UTF-8 BYTE order — Spark's UTF8String binary comparison — which
    * differs from Java's UTF-16 code-unit `compareTo` for supplementary
    * characters.
    *
    * Returns (merges, finalSeg) with the exact [[train]] schemas. */
  def trainCollected(words: DataFrame, rounds: Int,
                     maxVocab: Int = 1 << 22): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    // the 'certified small' Heaps-law bound, ENFORCED instead of
    // asserted: a pathological word domain (unique-ID-heavy text) would
    // otherwise OOM the driver at the collect below. The probe is a
    // LIMIT maxVocab+1 count — the scan early-exits at the limit, so
    // the guard never pays a full corpus pass.
    require(words.limit(maxVocab + 1).count() <= maxVocab,
      s"word domain exceeds maxVocab=$maxVocab rows — not a Heaps-law " +
        "vocabulary (unique-ID-heavy text?); clean the word stream or " +
        "raise maxVocab deliberately")
    val spark = words.sparkSession
    import spark.implicits._
    val rows = words
      .select(col("word").cast("string"), col("wcount").cast("long"))
      .collect() // certified small: the |vocab| value domain
    require(rows.nonEmpty, "empty word domain — nothing to train on")
    // Delta maintenance (the canonical trainer's structure — GPT-2's
    // and SentencePiece's): instead of recounting ALL adjacent pairs
    // over the whole segmentation each round (O(corpus tokens) per
    // round — 32k rounds would mean 32k full repasses), maintain
    //   counts : pair -> weighted corpus count,
    //   where  : pair -> the word indices containing it,
    //   tokUse : token -> occupied positions (vocab = live keys),
    //   total  : weighted token count,
    // and on each merge touch ONLY the words that contain the merged
    // pair (where(a,b)): remove each affected word's old pair profile,
    // fold, add the new one. Per-round cost ∝ Σ|affected word| plus the
    // argmax scan over the pair domain — never the corpus.
    // [[trainCollectedRecount]] keeps the full-repass form;
    // BpePropertySpec proves delta ≡ recount (table, curve, final seg)
    // over seeded random corpora, and both ≡ the Spark loop.
    val seg: Array[(String, Long, Array[String])] =
      rows.map(r => (r.getString(0), r.getLong(1),
                     codePoints(r.getString(0))))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    val tokUse = mutable.HashMap.empty[String, Long]
    var total = 0L
    def addWord(i: Int): Unit = {
      val (_, c, toks) = seg(i)
      var j = 0
      while (j < toks.length) {
        tokUse(toks(j)) = tokUse.getOrElse(toks(j), 0L) + 1L
        if (j + 1 < toks.length) {
          val k = (toks(j), toks(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          where.getOrElseUpdate(k, mutable.BitSet.empty) += i
        }
        j += 1
      }
      total += c * toks.length
    }
    def removeWord(i: Int): Unit = {
      val (_, c, toks) = seg(i)
      var j = 0
      while (j < toks.length) {
        val u = tokUse(toks(j)) - 1L
        if (u == 0L) tokUse.remove(toks(j)) else tokUse(toks(j)) = u
        if (j + 1 < toks.length) {
          val k = (toks(j), toks(j + 1))
          val n = counts(k) - c
          // a pair overlapping itself ≥3 times in one word ("cccc" on
          // (c,c)) hits the where-removal at its FIRST occurrence and
          // still decrements counts at the later ones — the lookup must
          // be idempotent, not keyed (caught by the delta ≡ recount
          // differential)
          if (n == 0L) { counts.remove(k); where.remove(k) }
          else {
            counts(k) = n
            where.get(k).foreach { s =>
              s -= i; if (s.isEmpty) where.remove(k)
            }
          }
        }
        j += 1
      }
      total -= c * toks.length
    }
    seg.indices.foreach(addWord)
    val merges =
      Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    for (r <- 1 to rounds) {
      require(counts.nonEmpty,
        s"round $r: no adjacent pairs left — every word is one token; " +
          s"asked for $rounds rounds on a domain that exhausts sooner")
      var best: ((String, String), Long) = null
      for (e <- counts) {
        if (best == null) best = e
        else {
          val c = java.lang.Long.compare(e._2, best._2)
          val cmp =
            if (c != 0) -c
            else {
              val ca = u8cmp(e._1._1, best._1._1)
              if (ca != 0) ca else u8cmp(e._1._2, best._1._2)
            }
          if (cmp < 0) best = e
        }
      }
      val ((a, b), cnt) = best
      // where(a,b) is mutated by removeWord — snapshot the indices
      val affected = where((a, b)).toArray
      var x = 0
      while (x < affected.length) {
        val i = affected(x)
        removeWord(i)
        seg(i) = (seg(i)._1, seg(i)._2, fold(seg(i)._3, a, b))
        addWord(i)
        x += 1
      }
      merges += ((r, a, b, cnt, tokUse.size.toLong, total))
    }
    val mdf = merges.result()
      .toDF("round", "a", "b", "cnt", "vocab_size", "total_tokens")
    val sdf = seg.toSeq.map { case (w, c, t) => (w, c, t.toSeq) }
      .toDF("word", "wcount", "toks")
    (mdf, sdf)
  }

  /** Code-point split — Spark's `substring`/`length` semantics (a
    * supplementary character is ONE token). */
  private def codePoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 byte order (unsigned) = Spark's UTF8String binary compare. */
  private def u8cmp(x: String, y: String): Int = {
    val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** The greedy left-to-right non-overlapping merge scan —
    * [[applyMerge]]'s driver-side twin. */
  private def fold(toks: Array[String], a: String,
                   b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** [[trainCollected]]'s pre-delta form — a full adjacent-pair repass
    * over the whole segmentation every round. Kept as the DIFFERENTIAL
    * REFERENCE for the delta-maintenance trainer (BpePropertySpec
    * proves delta ≡ recount merge-for-merge at depths the Spark loop
    * cannot reach in test time) and as the honesty baseline for the
    * ProbeBpe scaling row. Not guarded by maxVocab: callers are the
    * spec and the probe, both on domains the public path has already
    * bounded. */
  private[graft] def trainCollectedRecount(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = words.sparkSession
    import spark.implicits._
    val rows = words
      .select(col("word").cast("string"), col("wcount").cast("long"))
      .collect()
    require(rows.nonEmpty, "empty word domain — nothing to train on")
    var seg: Array[(String, Long, Array[String])] =
      rows.map(r => (r.getString(0), r.getLong(1),
                     codePoints(r.getString(0))))
    val merges =
      Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      for ((_, c, toks) <- seg) {
        var i = 0
        while (i + 1 < toks.length) {
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"round $r: no adjacent pairs left — every word is one token; " +
          s"asked for $rounds rounds on a domain that exhausts sooner")
      var best: ((String, String), Long) = null
      for (e <- counts) {
        if (best == null) best = e
        else {
          val c = java.lang.Long.compare(e._2, best._2)
          val cmp =
            if (c != 0) -c
            else {
              val ca = u8cmp(e._1._1, best._1._1)
              if (ca != 0) ca else u8cmp(e._1._2, best._1._2)
            }
          if (cmp < 0) best = e
        }
      }
      val ((a, b), cnt) = best
      seg = seg.map { case (w, c, toks) => (w, c, fold(toks, a, b)) }
      val vocab = mutable.HashSet.empty[String]
      var total = 0L
      for ((_, c, toks) <- seg) {
        var i = 0
        while (i < toks.length) { vocab += toks(i); i += 1 }
        total += c * toks.length
      }
      merges += ((r, a, b, cnt, vocab.size.toLong, total))
    }
    val mdf = merges.result()
      .toDF("round", "a", "b", "cnt", "vocab_size", "total_tokens")
    val sdf = seg.toSeq.map { case (w, c, t) => (w, c, t.toSeq) }
      .toDF("word", "wcount", "toks")
    (mdf, sdf)
  }

  /** Apply a learned merge table — `merges` as (round, a, b) — to a
    * fresh word domain WITHOUT pair counting (x168's ingest economics:
    * training is the corpus's cost, application is `rounds` folds over
    * the batch's |vocab|). The table is COLLECTED into merge-rule
    * literals (it is the frozen artifact — `rounds` rows by contract,
    * the [[graft.operators.KMeansDet.Model]] pattern) and validated to
    * carry exactly rounds 1..`rounds`: a missing round as a silent
    * empty cross join would erase the batch. */
  def segmentWords(words: DataFrame, merges: DataFrame, rounds: Int)
      : DataFrame = {
    val ms = merges.select(col("round"), col("a"), col("b"))
      .orderBy(col("round")).collect()
    require(ms.length == rounds &&
        ms.zipWithIndex.forall { case (r, i) => r.getInt(0) == i + 1 },
      s"merge table must carry exactly rounds 1..$rounds, got " +
        ms.map(_.getInt(0)).mkString("[", ",", "]"))
    var seg = initSeg(words)
    for (m <- ms)
      seg = seg.select(col("word"), col("wcount"),
        applyMerge(col("toks"), lit(m.getString(1)), lit(m.getString(2)))
          .as("toks"))
    seg
  }
}
