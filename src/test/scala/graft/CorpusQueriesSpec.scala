package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => T}

/** Edge-case semantics of the x30–x35 corpus-prep operators (the oracle
  * checks parity on real testdata; these pin the boundary behaviors the
  * testdata may not contain). */
class CorpusQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("x31 shingle basis: docs shorter than the shingle width contribute nothing") {
    val sh = Seq((1L, "a b c d"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), T.words(col("text")).as("_w"))
      .select(col("doc_id"),
        explode(array_distinct(T.shinglesFromWords(col("_w"), 5))).as("s"))
      .collect()
    assert(sh.map(_.getLong(0)).toSet === Set(2L))
    assert(sh.map(_.getString(1)).toSeq === Seq("a b c d e"))
  }

  test("x33 bigram stage: a one-word doc yields no bigrams (left join keeps it)") {
    val w = Seq((1L, "solo"), (2L, "a a b"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), T.words(col("text")).as("_w"))
    val bg = w.select(col("doc_id"), explode(zip_with(
        slice(col("_w"), lit(1), size(col("_w")) - 1),
        slice(col("_w"), lit(2), size(col("_w")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val rows = bg.collect()
    assert(!rows.exists(_.getLong(0) == 1L))
    assert(rows.filter(_.getLong(0) == 2L).map(_.getString(1)).toSet ===
      Set("a a", "a b"))
  }

  test("x32 packing: offsets accumulate per source shard and chunk ids are exact") {
    val win = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = Seq(
        (1L, "s0", 1500L), (2L, "s0", 1000L), (3L, "s0", 600L),
        (4L, "s1", 2048L), (5L, "s1", 1L))
      .toDF("doc_id", "source", "n_tokens")
      .withColumn("start_off", sum(col("n_tokens")).over(win) - col("n_tokens"))
      .withColumn("bin_id", expr("start_off div 2048"))
      .withColumn("bin_off", col("start_off") % 2048)
      .orderBy("doc_id")
      .select("doc_id", "start_off", "bin_id", "bin_off")
      .as[(Long, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, 0L, 0L, 0L),       // first doc of s0 opens chunk 0
      (2L, 1500L, 0L, 1500L), // still inside chunk 0
      (3L, 2500L, 1L, 452L),  // crossed the 2048 boundary → chunk 1
      (4L, 0L, 0L, 0L),       // s1 packs independently of s0
      (5L, 2048L, 1L, 0L)))   // exactly at the boundary → chunk 1, offset 0
  }

  test("x35 shard assignment is invariant under repartitioning") {
    def run(parts: Int) = {
      val keyed = spark.range(0, 64).toDF("doc_id")
        .repartition(parts)
        .select(col("doc_id"),
          md5(concat(lit("shuf:"), col("doc_id"))).as("k"))
        .withColumn("shard", conv(substring(col("k"), 1, 2), 16, 10)
          .cast("int") % 8)
      val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
        .as[(Long, Int, Int)].collect().toSeq
    }
    assert(run(1) === run(7))
  }

  test("x30 redaction patterns: multiple hits all redact; counts match") {
    val t = Seq("mail a@b.co and c.d@e.org tel +1-555-0000 +1-555-9999 x")
      .toDF("_t")
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+1-555-[0-9]{4}"
    val r = t.select(
      regexp_count(col("_t"), lit(emailPat)).as("ne"),
      regexp_count(col("_t"), lit(phonePat)).as("np"),
      regexp_replace(regexp_replace(col("_t"), emailPat, "<EMAIL>"),
        phonePat, "<PHONE>").as("red"))
      .as[(Int, Int, String)].head()
    assert(r._1 === 2 && r._2 === 2)
    assert(r._3 === "mail <EMAIL> and <EMAIL> tel <PHONE> <PHONE> x")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("x42 segment dedup: a repeated segment survives only at its first occurrence") {
    val segA = (0 until 10).map(i => s"w$i").mkString(" ")
    val segB = (0 until 10).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"$segA $segB"),       // both segments first here → both kept
      (2L, s"$segA tail words"))  // segA is a corpus dup → dropped
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.segmentDedup(docs, 10)
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept", "kept_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) === ((1L, 2L, 2L, md5Hex(s"$segA $segB"))))
    assert(got(1) === ((2L, 2L, 1L, md5Hex("tail words"))))
  }

  test("x42 segment dedup: within-doc repeats collapse; fully-duplicate doc hashes empty") {
    val segA = (0 until 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$segA $segA"),  // same segment twice in one doc → second dropped
      (2L, segA))            // whole doc already seen → nothing kept
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.segmentDedup(docs, 10)
      .orderBy("doc_id")
      .select("doc_id", "n_kept", "kept_md5")
      .as[(Long, Long, String)].collect()
    assert(got(0) === ((1L, 1L, md5Hex(segA))))
    assert(got(1) === ((2L, 0L, md5Hex(""))))
  }

  test("x42 segment dedup: first occurrence ranks by (doc_id, seg_id), doc before offset") {
    // the dup appears LATE in doc 1 (seg_id 1) and FIRST in doc 2 (seg_id
    // 0): lexicographic (doc_id, seg_id) ordering must keep doc 1's copy —
    // a key that weighted seg_id over doc_id (or overflowed a packed
    // encoding) would keep doc 2's instead
    val seg = (0 until 10).map(i => s"s$i").mkString(" ")
    val filler = (0 until 10).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler $seg"),
      (2L, seg))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.segmentDedup(docs, 10)
      .orderBy("doc_id")
      .select("doc_id", "n_kept")
      .as[(Long, Long)].collect()
    assert(got(0) === ((1L, 2L)))
    assert(got(1) === ((2L, 0L)))
  }

  test("x44 length trim: drops cnt DIV 20 from each end; small sources trim nothing") {
    // source A: 20 docs, lengths 1..20 tokens → trims exactly rank 1
    // (shortest) and rank 20 (longest); source B: 3 docs → 3 DIV 20 = 0,
    // everything survives
    val a = (1 to 20).map(i => (i.toLong, "A", ("w " * i).trim))
    val b = (21 to 23).map(i => (i.toLong, "B", ("w " * (i - 20)).trim))
    val docs = (a ++ b).toDF("doc_id", "source", "text")
    val kept = CorpusQueries.lengthTrim(docs)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens")
      .as[(Long, Long)].collect()
    assert(kept.map(_._1).toSeq === ((2L to 19L) ++ (21L to 23L)))
    assert(kept.find(_._1 == 5L).map(_._2) === Some(5L))
  }

  test("x44 length trim: length ties broken by doc_id, so the cut is deterministic") {
    // 20 docs all the same length: ranks follow doc_id; rank 1 (doc 1) and
    // rank 20 (doc 20) are dropped regardless of partitioning
    val docs = (1 to 20).map(i => (i.toLong, "A", "w w w")).toDF("doc_id", "source", "text")
      .repartition(7)
    val kept = CorpusQueries.lengthTrim(docs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === (2L to 19L))
  }

  test("x45 ngram novelty: full-overlap doc → 1000000 ppm, unique doc → 0, short doc absent") {
    val shared = (0 until 10).map(i => s"c$i").mkString(" ") // 10 words, 3 3-shingle... use n=8: 3 shingles
    val docs = Seq(
      (1L, shared + " unique tail of words here now"), // shares a prefix block with doc 2
      (2L, shared),                                     // every shingle also in doc 1 → 1000000
      (3L, (0 until 12).map(i => s"z$i").mkString(" ")), // fully unique → 0
      (4L, "too short"))                                // < 8 words → absent
      .toDF("doc_id", "text")
    val got = CorpusQueries.ngramNovelty(docs, 8)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_shared", "shared_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    val d2 = got.find(_._1 == 2L).get
    assert(d2._2 === 3L && d2._3 === 3L && d2._4 === 1000000L)
    val d3 = got.find(_._1 == 3L).get
    assert(d3._3 === 0L && d3._4 === 0L)
    // doc 1: 9 shingles of its 16 words... exactly the 3 from the shared
    // prefix are shared
    val d1 = got.find(_._1 == 1L).get
    assert(d1._3 === 3L)
    assert(d1._4 === 3L * 1000000L / d1._2)
  }

  test("x46 unigram surprise: uniform corpus scores 0; rare tokens add bitlen gap") {
    // corpus tokens: a×3, b×1 → N=4 (bitlen 3), cnt(a)=3 (bitlen 2),
    // cnt(b)=1 (bitlen 1); surprise(a)=1, surprise(b)=2
    val docs = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = CorpusQueries.unigramSurprise(docs)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "surprise_sum", "avg_surprise_c")
      .as[(Long, Long, Long, Long)].collect()
    assert(got(0) === ((1L, 3L, 3L, 100L))) // 3 × surprise 1 → avg 1.00
    assert(got(1) === ((2L, 1L, 2L, 200L))) // 1 × surprise 2 → avg 2.00
  }

  test("x47 source overlap: counts distinct shared shingles per source pair, ordered") {
    val shared = (0 until 5).map(i => s"s$i").mkString(" ") // one 5-shingle
    val docs = Seq(
      (1L, "A", s"$shared alpha beta gamma delta"), // A and B share `shared`
      (2L, "B", shared),
      (3L, "B", shared),                            // same shingle twice in B — counted once
      (4L, "C", "c0 c1 c2 c3 c4"))                  // C shares nothing
      .toDF("doc_id", "source", "text")
    val got = CorpusQueries.sourceOverlap(docs, 5)
      .orderBy("src_a", "src_b")
      .select("src_a", "src_b", "shared_shingles")
      .as[(String, String, Long)].collect()
    assert(got.toSeq === Seq(("A", "B", 1L)))
  }

  test("x43 vocab apply: ids rank by count then token; below-min-count tokens → OOV 0") {
    // "b" ×6, "a" ×6, "rare" ×1 with minCount 5: ids a→1, b→2 (count tie →
    // token order); rare → 0
    val docs = Seq(
      (1L, "a b a b a b rare"),
      (2L, "b a b a b a"))
      .toDF("doc_id", "text")
    val got = CorpusQueries.vocabApply(docs, minCount = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_oov", "ids_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) === ((1L, 7L, 1L, md5Hex("1,2,1,2,1,2,0"))))
    assert(got(1) === ((2L, 6L, 0L, md5Hex("2,1,2,1,2,1"))))
  }

  test("x48 filter funnel: a doc is attributed to the FIRST failing stage only") {
    val distinct40 = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      // fails len AND rep AND lang → counted against len only
      (1L, "zh", ("x " * 9) + "x"),
      // 40 tokens, one repeated 30× (750 000 ppm) and lang zh → rep wins
      (2L, "zh", ("x " * 30) + (1 to 10).map(i => s"u$i").mkString(" ")),
      // long and diverse but lang zh → lang
      (3L, "zh", distinct40),
      // long, diverse, allow-listed lang → pass
      (4L, "en", distinct40))
      .map { case (id, lang, text) => (id, "s0", lang, text) }
      .toDF("doc_id", "source", "lang", "text")
    val got = CorpusQueries.filterFunnel(docs)
      .select("source", "n_docs", "n_fail_len", "n_fail_rep", "n_fail_lang",
              "n_pass")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("s0", 4L, 1L, 1L, 1L, 1L)))
  }

  test("x49 cap idiom: ties broken by doc_id, cap keeps exactly K per source") {
    val docs = (1L to 12L).map(i => (i, "s0", 100L)) :+ ((13L, "s1", 5L))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val kept = docs.toDF("doc_id", "source", "n_chars")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("doc_id", "source")
      .as[(Long, String)].collect().toSeq.sorted
    // equal n_chars in s0 → the 10 lowest doc_ids survive; s1 untouched
    assert(kept === ((1L to 10L).map((_, "s0")) :+ ((13L, "s1"))).sorted)
  }

  test("x50 quota draw is invariant under repartitioning") {
    def run(parts: Int) = {
      val docs = spark.range(0, 64).toDF("doc_id")
        .withColumn("lang", when(col("doc_id") % 2 === 0, "en")
          .otherwise("fr"))
        .repartition(parts)
      val h = md5(concat(lit("graft:lang:"), col("doc_id")))
      val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
      docs.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 8)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
        .as[(Long, String, Long)].collect().toSeq
    }
    val r1 = run(1)
    assert(r1 === run(7))
    assert(r1.count(_._2 == "en") === 8 && r1.count(_._2 == "fr") === 8)
  }

  test("x51 distinctive tokens: lift is integer-exact share ratio; source-unique tokens rank first") {
    val docs = Seq(
      // src A: "aaa" ×6 is A-only; "w" ×6 is shared
      (1L, "A", Array.fill(6)("aaa").mkString(" ") + " " +
                Array.fill(6)("w").mkString(" ")),
      // src B: "w" ×12 — over-represented in B relative to the corpus
      (2L, "B", Array.fill(12)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = CorpusQueries.distinctiveTokens(docs, minCorpusCount = 5L,
        topK = 5)
      .orderBy("source", "rank")
      .as[(String, Long, String, Long)].collect().toSeq
    // ctot=24, stot=12 each; aaa: (6·24·1000) DIV (6·12) = 2000;
    // w in A: (6·24·1000) DIV (18·12) = 666; w in B: 12·24·1000 DIV 216 = 1333
    assert(got === Seq(
      ("A", 1L, "aaa", 2000L), ("A", 2L, "w", 666L),
      ("B", 1L, "w", 1333L)))
  }

  test("x52 candidate quality: exact dup pair lands in bucket 10; disjoint docs produce no pair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick brown fox jumps high"), // exact dup of 1
      (3L, "entirely different words appear here now"))
      .toDF("doc_id", "text")
    val got = AnalyticsQueries.candidateQuality(docs)
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(got === Seq((10L, 1L)))
  }

  test("x53 leakage split: every member of a dup cluster draws the same split") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick brown fox jumps high"), // dup of 1 → same cluster
      (3L, "entirely different words appear here now"))
      .toDF("doc_id", "text")
    val got = AnalyticsQueries.leakageSplit(docs)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((1L, 1L), (2L, 1L), (3L, 3L)))
    assert(got(0)._3 === got(1)._3, "dup pair must share a split")
    assert(Set("train", "val", "test").contains(got(2)._3))
  }

  test("x54 contamination ppm: full overlap → 1e6, clean → 0, short and benchmark docs absent") {
    val bench = "one two three four five six"
    val docs = Seq(
      (0L, bench),                            // benchMod hit → benchmark side
      (1L, bench),                            // all shingles contaminated
      (2L, "alpha beta gamma delta epsilon"), // clean → 0 ppm
      (3L, "too short"))                      // < 5 words → absent
      .toDF("doc_id", "text")
    val got = CorpusQueries.contaminationPpm(docs, benchMod = 97L, n = 5)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1000000L), (2L, 1L, 0L)))
  }

  test("x56 bigram surprise: deterministic context flattens to 0; rare continuations score the bitlen gap") {
    val docs = Seq(
      // "a b" ×3 is the only continuation of "a" → c(a)=c(ab) → surprise 0
      (1L, "a b a b a b"),
      // doc 2: "x y" once and "x z" once → c(x)=2, each bigram 1 →
      // surprise = bitlen(2)−bitlen(1) = 1 for the x-pairs
      (2L, "x y x z"))
      .toDF("doc_id", "text")
    val got = CorpusQueries.bigramSurprise(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: bigrams a-b,b-a,a-b,b-a,a-b: c(ab)=3,c(ba)=2, c(a)=3,c(b)=2
    //   → every surprise 0; doc 2: x-y,y-x,x-z: c(xy)=c(yx)=c(xz)=1,
    //   c(x)=2,c(y)=1 → surprises 1,0,1 → sum 2, avg ×100 = 66
    assert(got === Seq((1L, 5L, 0L, 0L), (2L, 3L, 2L, 66L)))
  }

  test("x66 BPE pairs: counts weight word types by frequency; 1-char words drop") {
    val docs = Seq((1L, "ab ab cd"), (2L, "abc x"))
      .toDF("doc_id", "text")
    // wf: ab→2, cd→1, abc→1 (x filtered); pairs: ab = 2+1, bc = 1, cd = 1
    val got = CorpusQueries.bpePairs(docs, topK = 20)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("ab", 3L), ("bc", 1L), ("cd", 1L)))
  }

  test("x67 repeated spans: cross-doc spans flag both docs; within-doc repeats and short docs don't") {
    val docs = Seq(
      (1L, "abcdefgh"),   // spans abcd cdef efgh
      (2L, "xxcdefyy"),   // spans xxcd cdef efyy — shares cdef with doc 1
      (3L, "aaaaaa"),     // spans aaaa aaaa → one DISTINCT span, unshared
      (4L, "zz"))         // shorter than the window → absent
      .toDF("doc_id", "text")
    val got = CorpusQueries.repeatedSpans(docs, window = 4, stride = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 1L, 333333L),
                       (2L, 3L, 1L, 333333L),
                       (3L, 1L, 0L, 0L)))
  }

  test("x121 anchored spans catch an UNALIGNED long copy that fixed-stride x67 misses") {
    // a ~240-char pseudo-random region copied into two docs at offsets
    // that differ by 3 (≢ 0 mod 8): every stride-8 window of one doc is
    // shifted relative to the other's, so x67 sees zero shared spans —
    // while the CDC anchors are functions of the region's CONTENT and
    // select identical spans in both docs
    val rnd = new scala.util.Random(17)
    val region = Seq.fill(240)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, ("q" * 8) + region),
      (2L, ("z" * 11) + region))
      .toDF("doc_id", "text")
    val strided = CorpusQueries.repeatedSpans(docs, window = 24, stride = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(strided.forall(_._3 == 0L),
      s"fixture broken: stride sampling should miss the shifted copy, got $strided")
    val anchored = CorpusQueries.anchoredRepeatedSpans(docs, window = 24)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(anchored.size == 2 && anchored.forall(_._3 > 0L),
      s"anchored spans must flag both docs of the unaligned copy, got $anchored")
  }

  test("x68 incremental vocab: threshold applies AFTER the merge; one-sided tokens survive") {
    val docs = Seq(
      (1L, "aa aa aa bb"),  // base: aa 3, bb 1
      (2L, "cc cc cc cc cc"), // base: cc 5 — base-only, at threshold
      (10L, "aa aa bb"))    // batch (doc_id % 10 == 0): aa 2, bb 1
      .toDF("doc_id", "text")
    val got = CorpusQueries.vocabIncrement(docs,
        isBatch = col("doc_id") % 10 === 0, minCount = 5L)
      .orderBy("token").as[(String, Long)].collect().toSeq
    // aa crosses the threshold only AFTER merging (3 + 2); bb (2) stays
    // below; cc never appears in the batch but keeps its base count
    assert(got === Seq(("aa", 5L), ("cc", 5L)))
  }

  test("x57 length bands: k = ceil(q·n/100) picks exact order statistics per language") {
    // en: token counts 1..10 (one doc each) → p10=1, p50=5, p90=9
    // fr: a single doc → every band is its own length
    val docs = (1 to 10).map(i =>
        (i.toLong, "en", Seq.fill(i)("w").mkString(" "))) :+
      ((11L, "fr", "a b c"))
    val got = CorpusQueries.lengthBands(
        docs.toDF("doc_id", "lang", "text"), Seq(10L, 50L, 90L))
      .orderBy("lang", "q").as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("en", 10L, 1L), ("en", 50L, 5L), ("en", 90L, 9L),
                       ("fr", 10L, 3L), ("fr", 50L, 3L), ("fr", 90L, 3L)))
  }

  test("x63 datasheet: rates are per-mille, dominant language ties break lexically") {
    val rows = SparkEntry.queries("x63_source_datasheet")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, tokens) = (r.getLong(1), r.getLong(2))
      assert(r.getLong(3) == tokens / nDocs, "mean must be the integer DIV")
      Seq(4, 5, 7).foreach(i =>
        assert(r.getLong(i) >= 0 && r.getLong(i) <= 1000,
          s"per-mille field $i out of range: ${r.getLong(i)}"))
      // the dominant language can never account for less than 1/n_langs
      assert(r.getLong(7) * 5 >= 1000 - 5 * 5,
        "top-lang share below the 5-language uniform floor")
    }
  }

  test("x71 snapshotDiff classifies each id by presence and fingerprint; source survives removal") {
    val old = Seq((1L, "web", "same"), (2L, "web", "before"),
                  (4L, "books", "gone")).toDF("doc_id", "source", "text")
    val cur = Seq((1L, "web", "same"), (2L, "web", "after"),
                  (3L, "news", "fresh")).toDF("doc_id", "source", "text")
    val got = CorpusQueries.snapshotDiff(old, cur).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got === Map(
      1L -> ("web", "unchanged"), 2L -> ("web", "changed"),
      3L -> ("news", "added"), 4L -> ("books", "removed")))
  }

  test("x72 importance: target-only tokens score positive, target-absent negative, shared ~0") {
    // target docs are alpha-heavy, raw-only docs beta-heavy; the
    // imbalance must exceed bitlen's ±1-bit quantization to register
    // (beta: lr = bitlen(1)+bitlen(18) − bitlen(13) − bitlen(4)
    //  = 1+5−4−3 = −1)
    val beta6 = "beta beta beta beta beta beta shared"
    val docs = Seq(
      (1L, "t", "alpha shared"), (2L, "t", "alpha shared"),
      (3L, "r", beta6), (4L, "r", beta6)
    ).toDF("doc_id", "lang", "text")
    val got = CorpusQueries.importanceWeights(docs, col("lang") === "t")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == got(2L) && got(3L) == got(4L))
    assert(got(1L) > got(3L),
      s"target docs must outscore raw-only docs: $got")
    assert(got(3L) < 0, s"target-absent tokens must pull the score negative: $got")
    assert(got(1L) > 0, s"target-enriched tokens must score positive: $got")
  }

  test("x77 phrase search reproduces a word-level brute-force scan of the corpus") {
    val sfDir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("x77_phrase_search")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val ws = r.getString(1).trim.split("\\s+")
        val hits = (0 until ws.length - 1)
          .filter(i => ws(i) == "hash" && ws(i + 1) == "scan")
        if (hits.isEmpty) None
        else Some(r.getLong(0) -> ((hits.length.toLong, hits.head + 1L)))
      }.toMap
    assert(got === want)
    assert(want.nonEmpty, "fixture must actually contain the phrase")
  }

  test("x81 CMS: estimate dominates exact on every probe, and sketch tables merge by re-sum") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("x81_cms_freq")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS theorem violated: est ${r.getLong(2)} < exact ${r.getLong(1)} for ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
    // merge closure: the sketch of A ∪ B equals the per-half sketches
    // summed cell-by-cell — the property that lets production keep one
    // 2048-row sketch table per batch and fold them without re-scanning
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(T.words(col("text"))).as("tok"))
      .select(col("tok"), explode(array((0 until 4).map(r => struct(
        lit(r.toLong).as("r"),
        (conv(substring(md5(concat_ws(":", lit(r), col("tok"))), 1, 8),
          16, 10).cast("long") % 512).as("b"))): _*)).as("p"))
      .groupBy(col("p.r").as("r"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val docs = Tables(spark, sfDir, "documents")
    val whole = sketch(docs)
    val halves = sketch(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(sketch(docs.filter(col("doc_id") % 2 === 1)))
      .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.exceptAll(halves).isEmpty && halves.exceptAll(whole).isEmpty,
      "CMS sketch tables must merge exactly by unionAll + re-sum")
  }

  test("x82 source Jaccard: union sketch equals direct sketch; disjoint and identical sources pin the scale ends") {
    import graft.functions.expr.MinHashSigMd5
    // two identical sources, one disjoint, one degenerate (sub-shingle)
    val docs = Seq(
      (1L, "sa", "w x y z q r s t u v"), (2L, "sa", "a b c d e f g h"),
      (3L, "sb", "w x y z q r s t u v"), (4L, "sb", "a b c d e f g h"),
      (5L, "sc", "k1 k2 k3 k4 k5 k6 k7 k8"),
      (6L, "sd", "one two")
    ).toDF("doc_id", "source", "text")
    val d = docs.select(col("source"), T.words(col("text")).as("_w"))
      .select(col("source"), MinHashSigMd5(col("_w"), 3, 8).as("sig"),
        array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
    // union closure: elementwise min over doc sigs == min over the
    // source's whole shingle set, seed by seed
    val viaDocs = d.groupBy(col("source"))
      .agg(min(col("sig")(0)).as("m0"),
           (1 until 8).map(i => min(col("sig")(i)).as(s"m$i")): _*)
      .collect().map(r => r.getString(0) ->
        (0 until 8).map(i => r.getString(i + 1))).toMap
    val direct = d.select(col("source"), explode(col("sh")).as("g"))
      .groupBy(col("source"))
      .agg(min(md5(concat(lit("0:"), col("g")))).as("m0"),
           (1 until 8).map(i =>
             min(md5(concat(lit(s"$i:"), col("g")))).as(s"m$i")): _*)
      .collect().map(r => r.getString(0) ->
        (0 until 8).map(i => r.getString(i + 1))).toMap
    assert(viaDocs("sa") === direct("sa") && viaDocs("sb") === direct("sb")
      && viaDocs("sc") === direct("sc"),
      "per-source union of doc sketches must equal the direct source sketch")
    // identical sources estimate 1.0; disjoint estimate 0; degenerate
    // source pairs report null jaccard (uni = 0)
    assert(viaDocs("sa") === viaDocs("sb"))
    assert(viaDocs("sd").forall(_ == null))
    assert(viaDocs("sa") !== viaDocs("sc"))
  }

  test("x83 drift: a source matching the corpus profile scores exactly 0; concentration diverges") {
    val rows = SparkEntry.queries("x83_source_drift")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val chi2 = r.getDouble(r.length - 1)
      assert(!chi2.isNaN && chi2 >= 0.0, s"chi2 must be finite >= 0: $r")
    }
    // p = q per bin makes every term (p-q)^2/q EXACTLY zero in IEEE
    // arithmetic — no epsilon needed; that is the point of the
    // fixed-order formulation
    import org.apache.spark.sql.functions.{col, expr, sum => fsum,
      count => fcount, when => fwhen, lit, broadcast}
    // consecutive (odd, even) pairs share n_chars, so both sources have
    // the exact corpus bin profile
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd", ((i - 1) / 2 % 4) * 250L))
      .toDF("doc_id", "source", "n_chars")
    val binned = docs.select(col("source"),
      expr("least(9L, n_chars DIV 200)").as("bin"))
    def cnts(p: String) = (0 until 10).map(i =>
      fsum(fwhen(col("bin") === i, 1L).otherwise(0L)).as(s"$p$i"))
    val bySrc = binned.groupBy(col("source"))
      .agg(fcount(lit(1)).as("n_docs"), cnts("c"): _*)
    val corpus = binned.agg(fcount(lit(1)).as("nn"), cnts("t"): _*)
    val terms = (0 until 10).map { i =>
      val p = col(s"c$i").cast("double") / col("n_docs").cast("double")
      val q = col(s"t$i").cast("double") / col("nn").cast("double")
      fwhen(col(s"t$i") === 0, lit(0.0)).otherwise((p - q) * (p - q) / q)
    }
    val got = bySrc.crossJoin(broadcast(corpus))
      .select(col("source"), terms.reduceLeft(_ + _).as("chi2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("even") == 0.0 && got("odd") == 0.0,
      s"sources with the corpus profile must score exactly 0.0, got $got")
  }

  test("x84 sketch rollup: merged partials bound the exact answer and cover every row") {
    val rows = SparkEntry.queries("x84_sketch_rollup")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"HLL union estimate outside 3-sigma: $r")
      assert(r.getBoolean(4), s"merged-KLL median rank outside +/-5%: $r")
      assert(r.getLong(2) > 0L)
    }
    // coverage: the sum of stage-1 partial counts must equal the table
    // count — the invariant that makes a persisted sketch table safe to
    // serve from without consulting raw data
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val viaPartials = o
      .groupBy(col("o_orderpriority"),
        org.apache.spark.sql.functions.date_trunc("month",
          col("o_orderdate")))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .agg(org.apache.spark.sql.functions.sum(col("n"))).collect()(0).getLong(0)
    assert(viaPartials === o.count())
  }

  test("x87 survival table: risk sets telescope, censoring is not an event, totals reconcile") {
    val rows = SparkEntry.queries("x87_survival_table")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // n_risk at t must equal n_risk at previous t minus its exits —
    // the telescoping identity every K-M consumer depends on
    rows.sliding(2).foreach {
      case Array((_, r0, e0, c0), (_, r1, _, _)) =>
        assert(r1 == r0 - e0 - c0, s"risk set must telescope: $rows")
      case _ =>
    }
    val total = rows.map(r => r._3 + r._4).sum
    assert(rows.head._2 == total,
      "first risk set must equal all users; every user exits exactly once")
    // pinned fixture: u1 converts day 1, u2 converts day 0,
    // u3 never converts -> censored at its last activity (day 2)
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(0, 1), "view"), (1L, ts(1, 1), "purchase"),
      (2L, ts(0, 2), "purchase"),
      (3L, ts(0, 3), "view"), (3L, ts(2, 3), "click")
    ).toDF("user_id", "ts", "event_type")
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
           min(when(col("event_type") === "purchase", col("ts"))).as("tc"),
           max(col("ts")).as("tl"))
    val tte = perUser.select(col("user_id"),
      expr("(unix_micros(coalesce(tc, tl)) - unix_micros(t0))" +
        " DIV 86400000000").as("t"),
      col("tc").isNotNull.as("conv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(tte(1L) == ((1L, true)) && tte(2L) == ((0L, true))
      && tte(3L) == ((2L, false)),
      s"censoring must use last activity, conversion first purchase: $tte")
  }

  test("x88 dyadic decay: integer score halves per day of age and cuts off past 30") {
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-03-${d}%02d 12:00:00")
    // stream A: 4 events today; stream B: 8 events yesterday (same
    // decayed weight as A); stream C: ancient — cut to 0
    val ev = (Seq.fill(4)((ts(20), "a")) ++ Seq.fill(8)((ts(19), "b")) ++
        Seq.fill(100)((Timestamp.valueOf("2020-01-01 00:00:00"), "c")) ++
        Seq((ts(20), "c")))
      .toDF("ts", "event_type")
    val byDay = ev
      .select(col("event_type"),
              expr("unix_micros(ts) DIV 86400000000").as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("n"))
    val got = byDay.crossJoin(broadcast(byDay.agg(max(col("d")).as("ref"))))
      .withColumn("age", col("ref") - col("d"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("age") <= 30,
        expr("n * shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
        .otherwise(0L)).as("score"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a") == 4L << 30)
    assert(got("b") == 8L << 29, "one day of age must halve the weight")
    assert(got("a") == got("b"))
    assert(got("c") == 1L << 30, "events past the 30-day horizon add zero")
  }

  test("x89 KS numerator equals the brute-force sup over all thresholds") {
    // src 'x' uniform on {10,20,30,40}; src 'y' concentrated at {10}
    val docs = (Seq(10, 20, 30, 40).map(v => ("x", v.toLong)) ++
        Seq.fill(4)(("y", 10L))).toDF("source", "v")
      .withColumnRenamed("v", "n_chars")
      .withColumn("doc_id", col("n_chars"))
    val rows = {
      val d = docs.select(col("source"), col("n_chars").as("v"))
      val perSV = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      val vals = d.select(col("v")).distinct()
      val srcs = d.select(col("source")).distinct()
      val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = srcs.crossJoin(vals)
        .join(perSV, Seq("source", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("cs", sum(col("c")).over(wSrc))
      val wAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumAll = d.groupBy(col("v")).agg(count(lit(1)).as("ca"))
        .withColumn("call", sum(col("ca")).over(wAll))
        .select(col("v"), col("call"))
      val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val n = d.agg(count(lit(1)).as("nn"))
      cum.join(cumAll, Seq("v")).join(sizes, Seq("source")).crossJoin(n)
        .withColumn("num", abs(col("cs") * (col("nn") - col("ns"))
          - (col("call") - col("cs")) * col("ns")))
        .groupBy(col("source")).agg(max(col("num")).as("ks_num"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // brute force: F_x jumps 1/4 at each value, F_y is 1 from v=10 on;
    // sup |F_x - F_y| = 3/4 at v=10 → numerator = |1*4 - 4*4|... per
    // source x vs rest(y): at v=10: cs_x=1, rest=4 → |1*4 - 4*4| = 12
    assert(rows("x") == 12L && rows("y") == 12L,
      s"KS numerator must be 12 (=> D = 12/16 = 0.75): $rows")
  }

  test("x93 CMS join size: estimate dominates the exact join cardinality") {
    val rows = SparkEntry.queries("x93_cms_joinsize")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.length == 1)
    val (est, exact, over) =
      (rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2))
    assert(exact > 0, "fixture join must be non-empty")
    assert(est >= exact,
      s"CMS inner-product theorem violated: est $est < exact $exact")
    assert(over == est - exact)
  }

  test("x94 KMV: unsaturated sketch is exact, saturated estimate lands in the k=64 envelope, union sketch = re-bottom-k of merged lists") {
    val k = 64
    val bk = udaf(new graft.functions.BottomKDistinctLongAggregator(k),
                  org.apache.spark.sql.Encoders.scalaLong)
    // s1: 40 distinct tokens (unsaturated); s2: 2000 distinct (saturated);
    // tokens repeat 3x to prove the sketch distincts its input
    val toks = ((1 to 40).map(i => ("s1", s"a$i")) ++
                (1 to 2000).map(i => ("s2", s"b$i")))
      .flatMap(t => Seq(t, t, t)).toDF("source", "tok")
      .select(col("source"),
        conv(substring(md5(concat(lit("kmv:"), col("tok"))), 1, 12), 16, 10)
          .cast("long").as("h"))
    val kv = toks.groupBy(col("source")).agg(bk(col("h")).as("kmv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(kv("s1").length == 40, "unsaturated sketch keeps every hash")
    assert(kv("s2").length == k)
    val est2 = (k - 1).toLong * (1L << 48) / kv("s2").last
    assert(math.abs(est2 - 2000L) < 1000,
      s"saturated KMV estimate far outside the 1/sqrt(k-1) envelope: $est2")
    // union closure: bottom-k of the merged lists == sketch of the union
    val direct = toks.groupBy().agg(bk(col("h")).as("kmv"))
      .collect()(0).getSeq[Long](0)
    val merged = (kv("s1") ++ kv("s2")).distinct.sorted.take(k)
    assert(direct == merged,
      "KMV union must compose from per-source sketches")
  }

  test("x97 systematic PPS: exactly n draws, heavy items guaranteed in, partition-invariant") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("x97_pps_systematic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    // the n anchor points all fall in [0, totalW) => total multiplicity
    // is exactly n
    assert(rows.map(_._4).sum == 50L,
      s"systematic PPS must draw exactly n units, got ${rows.map(_._4).sum}")
    assert(rows.forall(_._4 >= 1))
    // selection is a pure function of the data: physical layout must not
    // change the sample
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .repartition(13)
    val again = graft.ops.PrefixSumOps
      .runningSum(d, Seq(), "doc_id", "w", "cum_w", "tot_w")
      .withColumn("step", expr("tot_w div 50"))
      .withColumn("anchor", expr("step div 2"))
      .filter(col("step") > 0)
      .withColumn("lo", col("cum_w") - col("w"))
      .withColumn("g_hi", expr(
        "CASE WHEN cum_w <= anchor THEN 0L ELSE " +
        "least(cast(50 as bigint), (cum_w - anchor - 1) div step + 1) END"))
      .withColumn("g_lo", expr(
        "CASE WHEN lo <= anchor THEN 0L ELSE " +
        "least(cast(50 as bigint), (lo - anchor - 1) div step + 1) END"))
      .withColumn("mult", col("g_hi") - col("g_lo"))
      .filter(col("mult") >= 1)
      .select(col("doc_id"), col("w"), col("cum_w"), col("mult"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq,
      "sample must be invariant to physical partitioning")
    // a document at least one step wide can never be skipped
    val tot = Tables(spark, sfDir, "documents")
      .agg(sum(col("n_chars"))).collect()(0).getLong(0)
    val trueStep = tot / 50
    val heavy = Tables(spark, sfDir, "documents")
      .filter(col("n_chars") >= trueStep)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(heavy.subsetOf(rows.map(_._1).toSet),
      "items with w >= step must be selected")
  }

  test("x117/x118: trainer rounds match a reference BPE; spaced-replace application ≡ greedy fold") {
    // reference implementation: textbook greedy BPE over the word dict
    def refTrain(texts: Seq[String], k: Int)
        : (Seq[(Long, String, String, Long)], Map[String, Long]) = {
      val wf = texts.flatMap(_.trim.split("\\s+")).filter(_.length >= 2)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var dict: Map[String, (Seq[String], Long)] =
        wf.map { case (w, c) => w -> (w.map(_.toString), c) }
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      for (step <- 1 to k) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        dict.values.foreach { case (syms, c) =>
          syms.sliding(2).filter(_.size == 2).foreach(p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c)
        }
        if (pc.nonEmpty) {
          val ((l, r), n) = pc.toSeq
            .minBy { case ((l, r), n) => (-n, l, r) }
          merges += ((step.toLong, l, r, n))
          dict = dict.map { case (w, (syms, c)) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { s =>
              if (out.nonEmpty && out.last == l && s == r)
                out(out.size - 1) = l + r
              else out += s
            }
            w -> (out.toSeq, c)
          }
        }
      }
      val vocab = dict.values.toSeq
        .flatMap { case (syms, c) => syms.map(_ -> c) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (merges.toSeq, vocab)
    }
    // overlap-heavy fixture: runs of identical chars, self-composing
    // merges, a merged symbol that re-participates as a pair side
    val texts = Seq("aaa aaaa ab abab baab", "the thee there ethere",
                    "xyxy xyx yxyx", "zz zzz zzzz z")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (wantMerges, wantVocab) = refTrain(texts, 6)
    val gotMerges = CorpusQueries.bpeTrain(docs, steps = 6)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(gotMerges === wantMerges)
    val gotVocab = CorpusQueries
      .bpeApply(docs, wantMerges.map(m => (m._2, m._3)), topK = 1000)
      .as[(String, Long)].collect().toMap
    assert(gotVocab === wantVocab,
      "spaced-replace application must equal the reference fold's final symbolization")
  }

  test("x117 trainer stops early on a pairless corpus (documented degenerate case)") {
    // single-char words only: the length-≥2 filter leaves an empty
    // dictionary, round 1 finds no pair, and the trainer returns an
    // empty — correctly typed — merge table instead of looping
    val docs = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    val m = CorpusQueries.bpeTrain(docs, steps = 5)
    assert(m.columns.toSeq === Seq("step", "lhs", "rhs", "n"))
    assert(m.count() === 0L)
  }

  test("x143 hashed DSIR: target-like docs outrank, quotas bind per source, short docs absent") {
    // source A: two docs made of the target's bigrams, two of off-target
    // bigrams; source B: one target-like, three off-target; plus a
    // one-word doc that must vanish (no bigram evidence). Target = the
    // t=true rows themselves.
    val docs = Seq(
      (1L, "A", true,  "alpha beta alpha beta alpha beta"),
      (2L, "A", false, "alpha beta gamma delta"),     // mixed
      (3L, "A", false, "gamma delta gamma delta"),    // off-target
      (4L, "A", false, "epsilon zeta epsilon zeta"),  // off-target
      (5L, "B", true,  "alpha beta alpha beta"),
      (6L, "B", false, "gamma delta epsilon zeta"),
      (7L, "B", false, "eta theta eta theta"),
      (8L, "B", false, "iota kappa iota kappa"),
      (9L, "A", false, "solo"))                       // < 2 words
      .toDF("doc_id", "source", "t", "text")
    val out = CorpusQueries.hashedDsir(docs, isTarget = col("t"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
                                  r.getLong(3), r.getBoolean(4)))).toMap
    assert(!out.contains(9L), "a bigram-less doc must be absent")
    // quota: 8 scored docs, 4 per source -> 4 div 4 = 1 picked per source
    val picked = out.filter(_._2._4).keySet
    assert(picked.size == 2)
    // the all-target-bigram docs carry the highest weights in each source
    assert(picked == Set(1L, 5L), s"picked $picked")
    // weights: doc 1 (pure target bigrams) must outscore doc 3 (pure
    // off-target bigrams) in the same source
    assert(out(1L)._3 > out(3L)._3)
    // n_bigrams counts instances, not types
    assert(out(1L)._2 == 5L && out(5L)._2 == 3L)
  }

  test("x157 thresholdAudit: confusion counts at every cutoff match a straight-line sweep") {
    val scored = Seq(
      (10L, true), (10L, false), (7L, true), (3L, false), (3L, true),
      (-2L, false), (-2L, false), (-9L, true))
      .toDF("nb_score", "heur")
    val got = CorpusQueries.thresholdAudit(scored).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
                                  r.getLong(3), r.getLong(4)))).toMap
    val rows = Seq((10L, true), (10L, false), (7L, true), (3L, false),
      (3L, true), (-2L, false), (-2L, false), (-9L, true))
    val cuts = rows.map(_._1).distinct
    assert(got.keySet == cuts.toSet)
    cuts.foreach { c =>
      val tp = rows.count(r => r._1 >= c && r._2).toLong
      val fp = rows.count(r => r._1 >= c && !r._2).toLong
      val fn = rows.count(r => r._1 < c && r._2).toLong
      val tn = rows.count(r => r._1 < c && !r._2).toLong
      assert(got(c) == ((tp, fp, fn, tn)), s"cutoff $c: ${got(c)}")
    }
  }

  test("x158 curationFunnel: per-doc lineage on a hand fixture — every stage fires, funnel order holds") {
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    // every non-repetitive doc needs >= 13 tokens with distinct bigrams:
    // the x136 flag (top bigram > 9% of instances) legitimately fires on
    // any shorter doc, because 1 of <12 bigrams already exceeds 9%
    val hiQ = "the and of to in a is for the cat sat on a mat"
    val miQ = "the quick brown fox jumps over the lazy dog and runs far away"
    val loQ = "!a! ?b? ,c, ;d; !e! ?f? ,g, ;h! !i? ?j! ,k; ;l, !m, ?n;"
    val rep = "spam ham spam ham spam ham spam ham spam ham spam ham"
    val docs = Seq(
      (1L, "A", hiQ),              // high quality, unique -> kept
      (2L, "A", hiQ + " plus two additional trailing filler words"),
      (3L, "A", miQ),              // mid quality -> kept
      (4L, "A", loQ),              // bottom-2 quality -> tail
      (5L, "A", loQ + " extra"),   // tail
      (6L, "A", rep),              // repetitive -> dropped at the gate
      (7L, "A", miQ.toUpperCase.replace(" ", "  "))) // variant of 3
      .toDF("doc_id", "source", "text")
    val out = CorpusQueries.curationFunnel(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(4),
        Option(r.getString(3)), Option(r.get(5)).map(_.toString.toLong))))
      .toMap
    assert(out(6L)._1 == "repetitive" && out(6L)._2.isEmpty)
    assert(out(4L)._1 == "tail" && out(5L)._1 == "tail")
    // 7 normalizes to 3's fingerprint; min-id keeps 3
    assert(out(3L)._1 == "kept")
    assert(out(7L) == (("duplicate", out(7L)._2, Some(3L))), out(7L))
    assert(out(1L)._1 == "kept" && out(2L)._1 == "kept")
    assert(out.size == 7) // every input doc reports a lineage row
  }

  test("x159 incremental funnel: frozen cutoffs and frozen index govern the batch; both duplicate classes fire") {
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    val hiQ1 = "the and of to in a is for the cat sat on a mat"
    val hiQ2 = hiQ1.replace("cat", "bat")
    val miQ1 = "the quick brown fox jumps over the lazy dog and runs far away"
    val miQ2 = miQ1.replace("fox", "vix")
    val loQ1 = "!a! ?b? ,c, ;d; !e! ?f? ,g, ;h! !i? ?j! ,k; ;l, !m, ?n;"
    def lo(v: String) = loQ1.replace("!a!", v) // same q, distinct fp
    val corpus = Seq((1L, "A", hiQ1), (2L, "A", hiQ2), (3L, "A", miQ1),
      (4L, "A", miQ2), (5L, "A", loQ1), (6L, "A", lo("!z!")))
      .toDF("doc_id", "source", "text")
    // corpus calibration: head {1,2}, middle {3,4}, tail {5,6};
    // frozen index = fingerprints of {1,2,3,4}
    val miNew = miQ1.replace("quick", "quiet") // q == miQ1's, new fp
    val batch = Seq(
      (101L, "A", miQ1.toUpperCase),  // fp in frozen index -> dup of 3
      (102L, "A", miNew),             // new fp, min id -> kept
      (103L, "A", miNew.toUpperCase), // batch-internal -> dup of 102
      (104L, "A", lo("!y!")),         // frozen tail
      (105L, "A", "spam ham spam ham spam ham spam ham spam ham spam ham"),
      (106L, "Z", hiQ1.replace("cat", "rat")), // uncalibrated source
      (107L, "A", lo("!w!")), (108L, "A", lo("!v!")))
      .toDF("doc_id", "source", "text")
    val out = CorpusQueries.curationFunnelIncremental(corpus, batch)
      .collect().map(r => r.getLong(0) -> ((Option(r.getString(3)),
        r.getString(4), Option(r.get(5)).map(_.toString.toLong)))).toMap
    assert(out(101L) == ((Some("middle"), "duplicate", Some(3L))))
    assert(out(102L) == ((Some("middle"), "kept", None)))
    assert(out(103L) == ((Some("middle"), "duplicate", Some(102L))))
    // FROZEN cutoffs: the batch is majority low-quality, so a refit
    // would promote these — the corpus calibration still tails them
    Seq(104L, 107L, 108L).foreach(i =>
      assert(out(i) == ((Some("tail"), "tail", None)), s"$i: ${out(i)}"))
    assert(out(105L)._2 == "repetitive")
    // a source with no frozen cutoffs admits to head
    assert(out(106L) == ((Some("head"), "kept", None)))
    assert(out.size == 8) // corpus rows never re-emitted
  }

  test("x156 three-way merge: every outcome class on a hand fixture") {
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = (1L to 9L).map(i => (i, "x")).toDF("doc_id", "text")
    val ours = Seq(
      (1L, "x"),  // unchanged everywhere -> base
      (2L, "o"),  // ours-only edit -> ours
      (3L, "x"),  // theirs edits -> theirs
      // 4 removed by ours, theirs unchanged -> deleted
      (5L, "s"),  // IDENTICAL edit both sides -> both
      (6L, "o6"), // divergent edits -> conflict
      // 7 removed by both -> deleted
      (8L, "x"),  // theirs removes -> deleted
      // 9 removed by ours, theirs edits -> delete-vs-modify conflict
      (10L, "n"),  // added identically by both -> both
      (11L, "w"),  // ours-only add -> ours
      (12L, "ac1") // divergent adds -> conflict
    ).toDF("doc_id", "text")
    val theirs = Seq(
      (1L, "x"), (2L, "x"), (3L, "t"), (4L, "x"), (5L, "s"), (6L, "t6"),
      (9L, "m9"),
      (10L, "n"), (12L, "ac2"), (13L, "tn") // theirs-only add -> theirs
    ).toDF("doc_id", "text")
    val out = CorpusQueries.threeWayMerge(base, ours, theirs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3), Option(r.getString(4))))).toMap
    assert(out(1L) == (("unchanged", "unchanged", "base", Some(md5s("x")))))
    assert(out(2L) == (("changed", "unchanged", "ours", Some(md5s("o")))))
    assert(out(3L) == (("unchanged", "changed", "theirs", Some(md5s("t")))))
    assert(out(4L) == (("removed", "unchanged", "deleted", None)))
    assert(out(5L) == (("changed", "changed", "both", Some(md5s("s")))))
    assert(out(6L) == (("changed", "changed", "conflict", None)))
    assert(out(7L) == (("removed", "removed", "deleted", None)))
    assert(out(8L) == (("unchanged", "removed", "deleted", None)))
    assert(out(9L) == (("removed", "changed", "conflict", None)))
    assert(out(10L) == (("added", "added", "both", Some(md5s("n")))))
    assert(out(11L) == (("added", "absent", "ours", Some(md5s("w")))))
    assert(out(12L) == (("added", "added", "conflict", None)))
    assert(out(13L) == (("absent", "added", "theirs", Some(md5s("tn")))))
    assert(out.size == 13)
  }

  test("x153 NB classifier: out-of-sample sign tracks the vocabulary, train docs and tokenless docs absent, unseen vocab smoothed") {
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    // train split = doc_id % 5 == 0; the heuristic labels them by
    // construction: all-stopword text scores ~0.93 (pos), punctuation
    // garbage ~0.04 (neg)
    val pos = "the and of to in a is for the and"
    val neg = "!!! ??? ,,, ;;; !!! ???"
    val docs = Seq(
      (5L,  "A", pos), (10L, "A", pos),    // train, labeled positive
      (15L, "A", neg), (20L, "A", neg),    // train, labeled negative
      (1L,  "A", "the the and and of of"), // apply: positive vocabulary
      (2L,  "A", "!!! ??? !!! ???"),       // apply: negative vocabulary
      (3L,  "A", "zork blarg zork"),       // apply: unseen vocabulary
      (4L,  "A", "   "))                   // apply: no tokens at all
      .toDF("doc_id", "source", "text")
    val out = CorpusQueries.nbQualityFilter(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
                                  r.getBoolean(4), r.getBoolean(5)))).toMap
    // train docs and the tokenless doc never reach the output
    assert(out.keySet == Set(1L, 2L, 3L))
    // the sign decision tracks the vocabulary, and agrees with the
    // heuristic it was trained to imitate
    assert(out(1L)._3 && out(1L)._4, s"doc 1: ${out(1L)}")
    assert(!out(2L)._3 && !out(2L)._4, s"doc 2: ${out(2L)}")
    // unseen vocabulary: present (smoothed), scored by the class-total
    // ratio alone — straight-line reference: np=20 pos / nn=12 neg token
    // instances, balanced doc prior (dp=dn=2) = 0, so each unseen token
    // scores ilog(1)+ilog(12)−ilog(1)−ilog(20) = 896 − 1088 = −192
    assert(out(3L)._1 == 3L && out(3L)._2 == -576L, s"doc 3: ${out(3L)}")
    assert(!out(3L)._3)
    // a single-class training split fails LOUD (a require spelled as
    // an execution-time raise_error), never
    // the silent out-of-contract ilog2x256(0) path
    val oneClass = Seq((5L, "A", pos), (10L, "A", pos), (1L, "A", "zork"))
      .toDF("doc_id", "source", "text")
    val e = intercept[Exception] {
      CorpusQueries.nbQualityFilter(oneClass).collect()
    }
    assert(e.getMessage.contains("single-class training split") ||
      Option(e.getCause).exists(
        _.getMessage.contains("single-class training split")),
      e.toString)
  }

  test("x150 pfx CASE-chain LCP equals the HOF count form on adversarial pairs") {
    // the r17 codegen'd short-circuiting LCP — the production
    // expression, at shortDupSpans' default window — must agree with the
    // sequence/filter HOF it replaced — including the prefix-of case
    // (no mismatch inside the window), first-char mismatch, equal
    // strings, multi-byte codepoints, and lengths straddling the window
    val lcp = CorpusQueries.lcpExpr(col("sp_a"), col("sp_b"), window = 24)
    val hof = size(filter(
      sequence(lit(1), least(length(col("sp_a")), length(col("sp_b")))),
      i => col("sp_a").substr(lit(1), i) === col("sp_b").substr(lit(1), i)))
      .cast("long")
    val rnd = new scala.util.Random(150)
    def span(): String = {
      val n = 12 + rnd.nextInt(13) // [12, 24] like the operator's spans
      (1 to n).map(_ => "abcd€ß"(rnd.nextInt(6))).mkString
    }
    val planted = Seq(
      ("exactlythesamespan12", "exactlythesamespan12"), // equal
      ("prefixcase1234", "prefixcase1234andmore"),      // strict prefix
      ("Xmismatchatonechar", "Ymismatchatonechar"),     // first char
      ("sharedkernel775abc", "sharedkernel775xyz"),     // interior
      ("€€multibyte12345", "€€multibyte12399"))         // multi-byte
    val pairs = (planted ++ (1 to 200).map { _ =>
      val a = span()
      // half the pairs share a random-length prefix of a
      if (rnd.nextBoolean()) (a, a.take(rnd.nextInt(a.length + 1)) + span())
      else (a, span())
    }).toDF("sp_a", "sp_b")
    val rows = pairs.select(col("sp_a"), col("sp_b"),
        lcp.as("new"), hof.as("old"))
      .filter(col("new") =!= col("old")).collect()
    assert(rows.isEmpty, s"LCP forms disagree: ${rows.take(5).toSeq}")
  }

  test("x150 recovers a planted below-window duplicate that x67 provably misses") {
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    // CdcBounds' anchor decision, replicated: first 3 md5 bytes % 16
    def h24(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
    }
    // a 20-char shared region (< the 24-char window, so NO full window
    // ever fits inside it — x67/x121 blind at any alignment) that
    // carries an interior CDC anchor leaving >= tau=12 shared chars
    val shared = (1 to 5000).iterator
      .map(i => f"Q${i}%04dsharedkernel775".take(20))
      .find { s =>
        s.length == 20 &&
        (0 to s.length - 12).exists(o => o + 8 <= s.length &&
          h24(s.substring(o, o + 8)) % 16 == 0)
      }.getOrElse(fail("no anchored shared candidate in 5000 tries"))
    // disjoint-alphabet fillers (no cross-doc span can collide), shared
    // planted at offsets differing mod 8 — below-stride misalignment on
    // top of the below-window length
    val doc1 = "bcdbcdbcdbcdbcdbcdbcdbcdbcdbcd1" + shared +
               "dcbdcbdcbdcbdcbdcbdcbdcbdcb2"
    val doc2 = "wxywxywxywxywxywxywxywxywxywxywxy3" + shared +
               "yxwyxwyxwyxwyxwyxwyxwyxwyxw4"
    assert((doc1.indexOf(shared) - doc2.indexOf(shared)) % 8 != 0)
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    // x67 at its x-query parameters: the planted duplicate is invisible
    val x67 = CorpusQueries.repeatedSpans(docs, window = 24, stride = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(x67.values.forall(_ == 0L),
      s"x67 saw the below-window duplicate?! $x67")
    // x150: both docs carry a cross-doc prefix-neighbor of >= tau chars
    val x150 = CorpusQueries.shortDupSpans(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(x150.keySet == Set(1L, 2L), s"planted dup not recovered: $x150")
    assert(x150.values.forall(_._2 >= 12L),
      s"shared prefix under tau: $x150")
  }

  test("x161 luhnScreen: valid cards redacted, off-by-one twins untouched") {
    val docs = Seq(
      (1L, "pay with 5260181590830164 now"),  // Luhn-valid -> redacted
      (2L, "pay with 5260181590830165 now"),  // check digit off -> kept
      (3L, "no digits here at all"),
      (4L, "two 6131860913909962 and 0308246281948214 cards"))
    val got = CorpusQueries.luhnScreen(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == Seq(1L, 1L, md5s("pay with <CARD> now")))
    assert(got(2L) ==
      Seq(1L, 0L, md5s("pay with 5260181590830165 now")))
    assert(got(3L) == Seq(0L, 0L, md5s("no digits here at all")))
    assert(got(4L) == Seq(2L, 2L, md5s("two <CARD> and <CARD> cards")))
  }
}
