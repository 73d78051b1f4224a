package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import TextFunctions._

  test("shingles: shorter than n → empty; exactly n → one shingle") {
    import spark.implicits._
    val out = Seq("one two", "one two three", "one two three four")
      .toDF("t").select(shingles(col("t"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq.empty)
    assert(out(1) == Seq("one two three"))
    assert(out(2) == Seq("one two three", "two three four"))
  }

  test("minhash signature of an empty shingle set is all-null components") {
    import spark.implicits._
    val sig = Seq("x").toDF("t")
      .select(minhashSignature(col("t"), 3, 4).as("s"))
      .collect()(0).getSeq[String](0)
    assert(sig.forall(_ == null)) // array_min over empty → null per component
  }

  test("langId picks the profile with most marker hits; en wins ties") {
    import spark.implicits._
    val rows = Seq(
      "the cat and the dog of the house",   // en
      "der hund und die katze ist das",      // de
      "el perro la casa de los gatos es",    // es
      "zzz qqq www",                          // no markers → all 0 → en
      "le chat les chiens est et une"        // fr
    ).toDF("t").select(langId(col("t"))).as[String].collect()
    assert(rows.toSeq == Seq("en", "de", "es", "en", "fr"))
  }

  test("tokenCount / subwordCount / rollingHash on edge inputs") {
    import spark.implicits._
    val df = Seq("a", "hello world", "  padded  ").toDF("t")
    val out = df.select(
      tokenCount(col("t")).as("n"),
      subwordCount(col("t")).as("sw"),
      rollingHash(col("t")).as("rh")).collect()
    assert(out(0).getInt(0) == 1 && out(0).getLong(1) == 1L)
    assert(out(1).getInt(0) == 2 && out(1).getLong(1) == 4L) // ceil(5/4)*2
    assert(out(2).getInt(0) == 1)
    // rolling hash matches the obvious reference fold
    def ref(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    assert(out(1).getLong(2) == ref("hello world"))
    assert(out(2).getLong(2) == ref("  padded  ")) // hash is over RAW text
  }

  test("ilog2x256: exact at powers of two, monotone, chord-bounded below 256·log2") {
    import spark.implicits._
    val xs = (1L to 5000L) ++ Seq(1L << 20, (1L << 20) + 12345,
      1L << 40, (1L << 54) + 7)
    val got = xs.toDF("x").select(ilog2x256(col("x")).as("l"))
      .as[Long].collect()
    // exact at powers of two: L(2^k) = 256k
    xs.zip(got).foreach { case (x, l) =>
      if ((x & (x - 1)) == 0)
        assert(l == 256L * (63 - java.lang.Long.numberOfLeadingZeros(x)))
      // chord property: 0 <= 256·log2(x) − L(x) <= 23 (0.086-bit chord
      // error + 1 unit of mantissa floor)
      val err = 256.0 * math.log(x.toDouble) / math.log(2.0) - l
      assert(err >= -1e-6 && err <= 23.0, s"x=$x l=$l err=$err")
    }
    // monotone over the dense prefix
    got.take(5000).sliding(2).foreach(p => assert(p(0) <= p(1)))
  }

  test("luhnValid: reference vectors, off-by-one check digits fail, edge inputs") {
    import spark.implicits._
    // straight-line reference
    def ref(s: String): Boolean = s.nonEmpty && s.reverse.zipWithIndex
      .map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    val valids = Seq("5260181590830164", "6131860913909962",
      "0308246281948214", "9935181909378654", "7975432319487576",
      "0", "18", "26")                     // short but checksum-clean
    val invalids = valids.take(5).map(v =>
      v.init + ((v.last - '0' + 1) % 10).toString) ++ Seq("1", "10")
    val all = valids ++ invalids
    assert(valids.forall(ref) && !invalids.exists(ref)) // fixture sanity
    val got = all.toDF("d")
      .select(col("d"), luhnValid(col("d")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    all.foreach(s => assert(got(s) == ref(s), s"$s: ${got(s)}"))
    // empty string is false, not an error (the sequence guard)
    val e = Seq("").toDF("d").select(luhnValid(col("d"))).collect()
    assert(!e(0).getBoolean(0))
  }

  test("fingerprint normalizes case and whitespace runs") {
    import spark.implicits._
    val fps = Seq("Hello   World", "hello world", " HELLO\tWORLD ")
      .toDF("t").select(fingerprint(col("t"))).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("simhash: near-identical texts within small hamming distance") {
    import spark.implicits._
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog every day"),
      ("b", "the quick brown fox jumps over the sleepy dog every day"),
      ("c", "completely unrelated words about spark query planning here"))
      .toDF("id", "t").select(col("id"), simhash(col("t"), 16).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m("a"), m("b")) < ham(m("a"), m("c")))
  }

  test("docRepetition: duplicate words, top bigram, duplicate trigrams and the 9% flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam ham"),           // repetitive
      (3L, "one two one two three one two"),     // bigram 'one two' x3
      (4L, "solo"))                              // 1 word: no bigrams
    val got = docRepetition(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got(1L) == Seq(5L, 3L, 3L, 1L, true))  // 'spam spam' x3
    assert(got(3L) == Seq(7L, 4L, 3L, 0L, true))  // 'one two' x3
    assert(got(4L) == Seq(1L, 0L, 0L, 0L, false)) // no bigrams, no flag
  }
}
