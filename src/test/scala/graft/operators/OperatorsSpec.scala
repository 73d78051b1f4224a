package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{VectorFunctions => V}

class OperatorsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (0L, base),
      (1L, base),                                    // exact duplicate of 0
      (2L, base.replace("lazy", "sleepy")),          // near-duplicate of 0
      (3L, "completely different content about database engines and query plans here"),
      (4L, "  The QUICK brown fox jumps over the lazy dog again and again today ")
    ).toDF("doc_id", "text")                         // 4: case/space variant of 0
  }

  /** Exact top-k by cosine (self excluded): the query set broadcast
    * against the corpus with a per-query (cos DESC, nid ASC) window. */
  private def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                             k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("_qv"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("_nv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    broadcast(q).join(c, col("nid") =!= col("qid"))
      .withColumn("cos", V.cosine(col("_qv"), col("_nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  test("exactDedup keeps one representative per normalized content") {
    import spark.implicits._
    val out = DedupOperators.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    // 0,1,4 normalize identically → keep 0; 2 and 3 survive
    assert(out.toSeq == Seq(0L, 2L, 3L))
  }

  test("minhash candidates find the planted near-duplicate, verify filters noise") {
    // bands=8 (1 row/band): P(collision) per band = J, so the one-word-edit
    // near-dup (J≈0.7) is a near-certain candidate
    val cands = DedupOperators.minhashCandidates(docs, "doc_id", "text",
      bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L))) // identical text always collides
    val verified = DedupOperators.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.3, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((0L, 1L)))
    assert(verified.contains((0L, 2L)) || verified.contains((1L, 2L)))
    assert(!verified.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("simhash near-dups: identical docs at distance 0, different docs far") {
    val out = DedupOperators.simhashNearDups(docs, "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((0L, 1L)))
    assert(out.forall(_._3 <= 3))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhashNearDupsFromHash: 32-bit banding equals brute force on crafted signatures") {
    import spark.implicits._
    // x96's entry point: pre-computed signatures, 8-bit pigeonhole blocks
    val raw = Seq(
      0L -> 0x12345678L,
      1L -> 0x12345679L,          // 1 bit from id 0
      2L -> (0x12345678L ^ 0x7L), // 3 bits from id 0, 2 from id 1
      3L -> (0x12345678L ^ 0xFL), // 4 bits from id 0 — outside radius
      4L -> 0x0FF00FF0L)          // far from everything
    val got = DedupOperators
      .simhashNearDupsFromHash(raw.toDF("_id", "_sh"), bits = 32, radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (ia, sa) <- raw; (ib, sb) <- raw if ia < ib
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 3
    } yield (ia, ib, hd)).toSet
    assert(got == brute,
      s"banded pairs must equal brute force: got $got want $brute")
    assert(brute.exists(_._3 == 3), "fixture must exercise the radius edge")
  }

  test("clusterPairs: connected components get min-id labels (incl. chains)") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {5,9}; singleton 7 (absent)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 9L))
      .toDF("id_a", "id_b")
    val labels = DedupOperators.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 9L -> 5L))
  }

  test("x92 star-collapse: incremental clustering over label edges equals full recompute") {
    import spark.implicits._
    // yesterday: {1,2,3} and {5,9}; today's batch bridges them (3-5)
    // and starts a fresh component {20,21}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 9L)).toDF("id_a", "id_b")
    val newPairs = Seq((3L, 5L), (20L, 21L)).toDF("id_a", "id_b")
    val labelEdges = DedupOperators.clusterPairs(oldPairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("id_a"), col("label").as("id_b"))
    // the star has ONE edge per non-root node — strictly fewer than the
    // historical edge list as components grow
    assert(labelEdges.count() == 3)
    val incr = DedupOperators
      .clusterPairs(labelEdges.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOperators
      .clusterPairs(oldPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr === full,
      s"incremental labels must equal from-scratch labels: $incr vs $full")
    assert(incr(9L) == 1L, "bridged components must take the global min root")
    assert(incr(21L) == 20L)
  }

  test("incrementalCandidates: new batch vs persisted index, corpus pairs excluded") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (0L, base), (1L, base),   // corpus-internal dup — must NOT reappear
      (2L, "completely different content about database engines and query plans"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base),              // dup of corpus docs 0 and 1
      (11L, "another unique document mentioning shuffles partitions and joins"))
      .toDF("doc_id", "text")
    val idx = DedupOperators.signatureIndex(corpus, "doc_id", "text")
    assert(idx.columns.toSeq == Seq("id", "band_idx", "band_key"))
    val pairs = DedupOperators.incrementalCandidates(idx, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)) && pairs.contains((1L, 10L)))
    assert(!pairs.contains((0L, 1L)), "corpus-internal pair must be excluded")
    assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L))
    // incremental result == full-corpus candidates restricted to new-batch pairs
    val full = DedupOperators.minhashCandidates(
        corpus.unionByName(fresh), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 10L || p._2 >= 10L)
    assert(pairs == full)
  }

  test("clusterPairsWithStatus reports non-convergence when diameter exceeds maxIters") {
    import spark.implicits._
    // a path graph 1-2-3-4-5-6 has diameter 5 — two rounds can't finish
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (partial, converged) =
      DedupOperators.clusterPairsWithStatus(chain, maxIters = 2)
    assert(!converged)
    assert(partial.select("label").distinct().count() > 1)
    // enough rounds → converged, single label = min id
    val (full, done) = DedupOperators.clusterPairsWithStatus(chain, maxIters = 10)
    assert(done)
    assert(full.select("label").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("clusterPairs frees superseded round checkpoints — only the result stays cached") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOperators.clusterPairs(chain, maxIters = 10)
    assert(labels.count() === 9)
    // each propagation round checkpoints a labels frame; all but the last
    // must be freed inside the loop (Dataset.unpersist can't do it — the
    // checkpoint's RDD-level persist is invisible to the SQL cache manager)
    val after = sc.getPersistentRDDs.size
    assert(after <= before + 1,
      s"clusterPairs leaked round checkpoints: before=$before after=$after")
    graft.ops.CheckpointOps.free(labels)
  }

  test("dedupCorpus keeps one representative per duplicate cluster") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (0L, base), (1L, base),                      // exact dups
      (2L, base.replace("lazy", "sleepy")),        // near-dup of 0 (chains in)
      (3L, "completely different content about database engines and query plans"),
      (4L, "another unique document mentioning shuffles partitions and joins"))
      .toDF("doc_id", "text")
    val out = DedupOperators.dedupCorpus(corpus, "doc_id", "text",
      jaccardThreshold = 0.3, bands = 8)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 3L, 4L))
  }

  test("IVF search: high recall with nprobe=1 on well-separated clusters") {
    import spark.implicits._
    def v(base: Float, i: Int) =
      Array(base + i * 0.001f, 1.0f - base, 0.1f * i, 0.5f)
    val corpus = ((0 until 10).map(i => (i.toLong, v(0.9f, i))) ++
                  (10 until 20).map(i => (i.toLong, v(-0.9f, i - 10))))
      .toDF("vec_id", "embedding")
    val index = IvfSearch.build(corpus, nlist = 2)
    val queries = corpus.filter(col("vec_id").isin(0L, 10L))
    val exact = bruteForceTopK(queries, corpus, 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = IvfSearch.search(index, queries, k = 3, nprobe = 1)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == exact, s"ivf=$ivf exact=$exact") // clusters are cleanly split
  }

  test("IVF sample-fit: a quantizer fit on a fraction still labels every row") {
    import spark.implicits._
    def v(base: Float, i: Int) =
      Array(base + i * 0.001f, 1.0f - base, 0.1f * i, 0.5f)
    val corpus = ((0 until 40).map(i => (i.toLong, v(0.9f, i % 10))) ++
                  (40 until 80).map(i => (i.toLong, v(-0.9f, i % 10))))
      .toDF("vec_id", "embedding")
    // ~half the corpus fits the quantizer; the labeling pass covers ALL
    val index = IvfSearch.build(corpus, nlist = 2, fitSampleBuckets = 128)
    assert(index.cells.count() == 80, "every row must be labeled")
    assert(index.centroids.length == 2)
    // well-separated clusters: each cell holds exactly one side
    val sides = index.cells
      .groupBy(col("_cell"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(sides == Set((0L, 39L), (40L, 79L)),
      s"sample-fit centroids must still split the two clusters: $sides")
  }

  test("IVF sample-fit: an empty/undersized sample falls back to the full frame") {
    import spark.implicits._
    def v(base: Float, i: Int) =
      Array(base + i * 0.001f, 1.0f - base, 0.1f * i, 0.5f)
    val tiny = ((0 until 4).map(i => (i.toLong, v(0.9f, i))) ++
                (4 until 8).map(i => (i.toLong, v(-0.9f, i - 4))))
      .toDF("vec_id", "embedding")
    // 1/256 of 8 rows ≈ 0 sampled — without the fallback KMeans.fit dies
    // deep in MLlib; with it the quantizer fits on the full tiny frame
    val index = IvfSearch.build(tiny, nlist = 2, fitSampleBuckets = 1)
    assert(index.cells.count() == 8)
    assert(index.centroids.length == 2)
  }

  test("multimodal: media struct plumbing and stub decode are deterministic") {
    import spark.implicits._
    val df = Seq(("img1", "payloadbytes"), ("img2", "xy"))
      .toDF("id", "raw")
      .withColumn("payload", col("raw").cast("binary"))
    val media = Multimodal.withMediaStruct(df, col("payload"), lit("png"))
      .withColumn("decoded", Multimodal.decodeImageStub(col("media.payload")))
      .withColumn("cls", Multimodal.sizeClass(col("media.payload")))
    val r = media.select("media.size_bytes", "decoded.width", "cls").collect()
    assert(r(0).getInt(0) == 12 && r(0).getString(2) == "s")
    // deterministic: same payload → same fake dimensions
    val again = media.select("decoded.width").collect()
    assert(r.map(_.getInt(1)).toSeq == again.map(_.getInt(0)).toSeq)
  }

  test("multimodal vadPlan: islands match a straight-line reference; degenerate thresholds pin the frame grid; loud args") {
    import spark.implicits._
    val docs = Seq((1L, "a" * 100), (2L, "b" * 85), (3L, "xyz"))
      .toDF("doc_id", "text")
    // threshold 0: every frame is speech -> ONE segment spanning the grid
    val all = Multimodal.vadPlan(docs, "doc_id", "text", 40, 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(all(1L) == ((1L, 0L, 2L, 3L))) // 100 bytes -> 3 frames
    assert(all(2L) == ((1L, 0L, 2L, 3L))) // 85 -> ceil = 3
    assert(all(3L) == ((1L, 0L, 0L, 1L))) // short doc -> 1 frame
    // threshold 256: energy is a byte, nothing is ever speech
    assert(Multimodal.vadPlan(docs, "doc_id", "text", 40, 256).count() == 0)
    // default threshold: segments equal a straight-line islands pass
    // over the reference energies (MessageDigest, first md5 byte)
    val mixed = (1 to 400).map(i => ('a' + i % 26).toChar).mkString
    def en(f: Int): Int = {
      val s = mixed.substring(f * 40,
        math.min(mixed.length, f * 40 + 40))
      Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2), 16)
    }
    val speech = (0 until 10).filter(en(_) >= 128)
    val wantSegs = speech.foldLeft(List.empty[(Long, Long, Long, Int)]) {
      case (acc, f) => acc match {
        case (s, e, n, m) :: rest if e == f - 1 =>
          (s, f.toLong, n + 1, math.max(m, en(f))) :: rest
        case _ => (f.toLong, f.toLong, 1L, en(f)) :: acc
      }
    }.reverse.zipWithIndex.map { case ((s, e, n, m), i) =>
      (4L, (i + 1).toLong, s, e, n, m)
    }
    assert(wantSegs.size >= 2, s"fixture too uniform: speech=$speech")
    val got = Multimodal.vadPlan(Seq((4L, mixed)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4), r.getInt(5))).toSeq
      .sortBy(_._2)
    assert(got == wantSegs, s"got $got want $wantSegs")
    intercept[IllegalArgumentException] {
      Multimodal.vadPlan(docs, "doc_id", "text", 0, 128)
    }
  }

  test("frameSamplePlan + fingerprint set: identical payloads pair exactly; stride picks every k-th frame") {
    import spark.implicits._
    // stride semantics: frames 0..9, stride 3 -> 0,3,6,9
    val plan = Seq(1).toDF("x")
      .select(Multimodal.frameSamplePlan(lit(10), 3).as("f"))
      .collect().head.getSeq[Int](0)
    assert(plan == Seq(0, 3, 6, 9))
    // x105 composition: same payload -> same fingerprint set -> jac 1.0;
    // disjoint payload never pairs
    val base = ("A" * 600, "B" * 600)
    val vids = Seq((1L, base._1), (2L, base._1), (3L, base._2))
      .toDF("doc_id", "text")
      .withColumn("_hx", hex(col("text").cast("binary")))
      .withColumn("_nf", greatest(lit(1),
        expr("length(_hx) div 128")).cast("int"))
      .withColumn("fps", array_distinct(transform(
        Multimodal.frameSamplePlan(col("_nf"), stride = 2),
        i => md5(col("_hx").substr(i * 128 + 1, lit(128))
                   .cast("binary")))))
      .select(col("doc_id"), col("fps"))
    val got = SetSimJoin.join(vids, "doc_id", "fps", 1, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("windowed minhash candidates: horizon gates pairs; a wide window equals the unwindowed join") {
    import spark.implicits._
    val timed = Seq(
      (0L, 0L, "the quick brown fox jumps over the lazy dog"),
      (1L, 2L, "the quick brown fox jumps over the lazy dog"),  // Δt=2
      (2L, 50L, "the quick brown fox jumps over the lazy dog"), // far away
      (3L, 51L, "entirely different words appear here instead today"))
      .toDF("doc_id", "t", "text")
    def cands(w: Long): Set[(Long, Long)] =
      DedupOperators.windowedMinhashCandidates(
          timed, "doc_id", "text", "t", window = w, bands = 8)
        .as[(Long, Long)].collect().toSet
    // w=3: only the close twins pair; the identical doc 50 ticks away
    // is outside the horizon
    assert(cands(3L) === Set((0L, 1L)))
    // w=0: only exact-same-tick pairs — none here
    assert(cands(0L) === Set.empty)
    // w large: identical to the unwindowed candidate join
    val unwindowed = DedupOperators.minhashCandidates(
        timed, "doc_id", "text", bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(cands(1000L) === unwindowed)
    spark.catalog.clearCache()
  }

  test("windowed candidates equal an independent brute-force reference on random corpora") {
    import spark.implicits._
    // pure-Scala reimplementation of the banded-MinHash contract:
    // sig[j] = min md5hex("j:" + 3-word shingle); band b = md5hex of
    // UTF-8("sig[2b]|sig[2b+1]"). Degenerate docs (< 3 words → zero
    // shingles) are EXCLUDED from the index (ADVICE r10): they carry no
    // shingle evidence and would otherwise all collide on the md5("")
    // band — so the reference gives them no bands at all.
    def md5hex(bs: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bs)
        .map("%02x".format(_)).mkString
    def bandsOf(text: String): Seq[String] = {
      val w = text.trim.split("\\s+").toSeq
      if (w.size < 3) Seq.empty
      else {
        val sh = w.sliding(3).map(_.mkString(" ")).toSeq
        val sig = (0 until 8).map { j =>
          sh.map(s => md5hex(s"$j:$s".getBytes("UTF-8"))).min
        }
        (0 until 4).map { b =>
          md5hex(s"${sig(2 * b)}|${sig(2 * b + 1)}".getBytes("UTF-8"))
        }
      }
    }
    val rnd = new scala.util.Random(59)
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    for (trial <- 1 to 3) {
      // random docs, some degenerate (<3 words), and ~1/3 verbatim copies
      // of an earlier doc so indexable near-dup pairs exist (degenerate
      // docs no longer pair trivially via the md5("") band — they are
      // excluded from the index, which this fixture also asserts below)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      (0L until 24L).foreach { i =>
        if (i > 0 && rnd.nextInt(3) == 0) {
          // verbatim copy of an earlier doc, stamped INSIDE its horizon —
          // guarantees indexable pairs whenever the source is non-degenerate
          val (_, t0, text) = buf(rnd.nextInt(i.toInt))
          buf += ((i, t0 + rnd.nextInt(6), text))
        } else {
          // doc 0 is always long so at least one copyable source exists
          val n = (if (i == 0) 3 else 2) + rnd.nextInt(5)
          buf += ((i, rnd.nextInt(40).toLong,
            Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")))
        }
      }
      val docs = buf.toSeq
      val want = (for {
        (ia, ta, xa) <- docs; (ib, tb, xb) <- docs
        if ia < ib && math.abs(ta - tb) <= 5
        if bandsOf(xa).zip(bandsOf(xb)).exists { case (a, b) => a == b }
      } yield (ia, ib)).toSet
      val got = DedupOperators.windowedMinhashCandidates(
          docs.toDF("doc_id", "t", "text"), "doc_id", "text", "t",
          window = 5L)
        .as[(Long, Long)].collect().toSet
      assert(got === want, s"trial $trial")
      assert(want.nonEmpty, s"trial $trial fixture vacuous")
      val shortIds = docs.collect {
        case (i, _, x) if x.trim.split("\\s+").length < 3 => i }.toSet
      assert(shortIds.nonEmpty, s"trial $trial has no degenerate docs")
      assert(!got.exists { case (a, b) =>
        shortIds(a) || shortIds(b) },
        s"trial $trial: degenerate docs must never appear as candidates")
      spark.catalog.clearCache()
    }
  }
}
