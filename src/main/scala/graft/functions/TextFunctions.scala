package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, fingerprinting, shingling,
  * MinHash signatures, SimHash. Everything is composed from built-in
  * `org.apache.spark.sql.functions` (codegen'd, no UDFs), so the operators
  * stay inside whole-stage codegen and scale linearly with no driver-side
  * state — the properties that matter at 100 TB.
  *
  * Hash conventions use md5 (available verbatim in DuckDB/Trino/most
  * engines), making every function oracle-checkable across engines.
  */
object TextFunctions {

  /** Words of a document: trim, split on whitespace runs. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Token count — whitespace tokenization. */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword-token estimate (no vocab): each word contributes
    * ceil(len/4) pieces — a deterministic, oracle-expressible proxy for
    * subword token counts. */
  def subwordCount(text: Column): Column =
    aggregate(words(text), lit(0L),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))

  /** Polynomial rolling-hash fingerprint over characters:
    * h = fold(h*31 + ascii(c)) mod 1e9+7 — the classic Rabin-Karp shape,
    * sequential and integer-exact, so identical in any engine. */
  def rollingHash(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)

  /** Word n-grams of `text` as space-joined strings; empty array when the
    * document has fewer than `n` words (guarded: Spark's `sequence`
    * DESCENDS when stop < start, unlike DuckDB's generate_series, which
    * returns empty — the guard keeps the two engines agreeing). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 2, s"wordNgrams needs n >= 2, got $n")
    val w = words(text)
    val m = size(w) - (n - 1)
    // fold of zip_with over shifted slices, NOT transform(sequence) with
    // element_at: the index-probe form measured 11x slower on the x143
    // bigram explode (6.1 s vs 0.54 s warm at sf0.1 — element_at inside a
    // lambda defeats the fast path; zip_with walks the arrays linearly).
    // Identical output strings, so every wordNgrams consumer is
    // hash-neutral to this change.
    val grams = (2 to n).foldLeft(slice(w, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(w, lit(j), m),
               (a, b) => concat(a, lit(" "), b))
    }
    when(size(w) < n, array().cast("array<string>")).otherwise(grams)
  }

  /** bitlen(x) = floor(log₂ x) + 1 for x ≥ 1 (and 1 for x = 0, since
    * bin(0) = "0") — the integer-exact −log₂ device shared by the
    * surprise/PMI/DSIR family. */
  def bitlen(x: Column): Column = length(bin(x)).cast("long")

  /** DSIR log-ratio lr = bitlen(ct+1) + bitlen(nr) − bitlen(cr+1) −
    * bitlen(nt) ≈ log₂(p_target / p_raw) with add-one smoothing. The SUM
    * of bitlens, NOT bitlen of the products (ct+1)·nr and (cr+1)·nt: at
    * real corpus scale (nr = total feature instances) those long products
    * wrap silently in non-ANSI Spark while DuckDB's BIGINT errors loudly —
    * silent wrong weights plus cross-engine divergence. The sum form
    * differs from the product form by at most 1 bit per term and is
    * overflow-free at any corpus size. Keep [[graft.CorpusQueries]]'s
    * `bitlenLrSql` (the DuckDB spelling) in step with this. */
  def bitlenLogRatio(ct: Column, cr: Column, nr: Column, nt: Column): Column =
    bitlen(ct + 1) + bitlen(nr) - bitlen(cr + 1) - bitlen(nt)

  /** Fixed-point log₂ with an 8-bit mantissa: for x ≥ 1,
    * L(x) = (bitlen(x)−1)·256 + ((x << 8) >> (bitlen(x)−1)) − 256
    * ≈ 256·log₂ x. The mantissa term is the chord (linear-in-mantissa)
    * approximation between consecutive powers of two — max error
    * ~0.086 bits (≈ 22 units), monotone, and pure integer shifts, so the
    * value is bit-identical in any engine (DuckDB spells it with the
    * same `<<`/`>>`). This is the high-resolution sibling of [[bitlen]]:
    * the ±1-bit bitlen error is fine for RANKING (x72/x143 sort by the
    * score) but accumulates over a document's tokens into a bias that
    * swamps a SIGN decision — a classifier thresholding at 0 needs this
    * resolution (measured on x153: bitlen scores flip sign with corpus
    * size; L(x) scores track the label). Caller contract: 1 ≤ x < 2^55
    * (the `x << 8` headroom — at 2^55 ≈ 3.6e16 token instances this
    * bound outlasts any corpus). */
  def ilog2x256(x: Column): Column = {
    val b = (length(bin(x)) - 1).cast("int")
    (b.cast("long") * 256) +
      call_function("shiftright", call_function("shiftleft", x, lit(8)), b) -
      256
  }

  /** Naive-Bayes per-feature log-likelihood ratio in 1/256-bit units:
    * 256·log₂((ct+1)/nt ÷ (cr+1)/nr) with add-one smoothing, via
    * [[ilog2x256]] — the sign-decision-grade version of
    * [[bitlenLogRatio]] (same parameter order; same overflow-free
    * sum-of-logs shape). Keep [[graft.CorpusQueries]]'s `ilogSql` (the
    * DuckDB spelling) in step with this. */
  def logRatioX256(ct: Column, cr: Column, nr: Column, nt: Column): Column =
    ilog2x256(ct + 1) + ilog2x256(nr) - ilog2x256(cr + 1) - ilog2x256(nt)

  /** Luhn checksum validity of an all-digit string (ISO/IEC 7812:
    * every second digit from the RIGHT doubled, 9 subtracted above 9,
    * total ≡ 0 mod 10) — the checksum screen that separates card-like
    * identifiers from arbitrary digit runs, so a PII redactor masks
    * validated positives instead of every 16-digit number (x161; the
    * checksum upgrade of x30's pure-regex detection). One codegen'd
    * fold over the character positions — no explode, no shuffle.
    * Empty input is false (Spark's `sequence(1, 0)` would DESCEND —
    * the wordNgrams guard). */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val tot = aggregate(sequence(lit(1), n), lit(0L),
      (acc, i) => {
        val d = digits.substr(i, lit(1)).cast("long")
        val dd = when((n - i).cast("long") % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    when(n === 0, lit(false)).otherwise(tot % 10 === 0)
  }

  /** Maximum multiplicity of any element in a string array — sort, then
    * the longest equal run via one codegen'd fold (no explode, no
    * shuffle; the per-row twin of a group-count-max, which is what the
    * oracle restates relationally). The `prev = ""` seed cannot
    * miscount a leading empty-string element: the running count starts
    * at 0, so the first element always lands on run = 1 either way. */
  def maxMultiplicity(arr: Column): Column =
    when(size(arr) === 0, lit(0L)).otherwise(
      aggregate(array_sort(arr),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
                         acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
                 greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best")))

  /** Count of duplicate instances in a string array:
    * |arr| − |distinct(arr)|. */
  def dupCount(arr: Column): Column =
    (size(arr) - size(array_distinct(arr))).cast("long")

  /** The x136 Gopher-style intra-document repetition projection over
    * (`idCol`, `textCol`): duplicate-word count, most-frequent-bigram
    * multiplicity, duplicate-trigram count, and the integer-arithmetic
    * repetitive flag (top bigram > 9% of bigram instances). One
    * codegen'd projection — no explode, no shuffle, no state. */
  def docRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame =
    df.select(
        col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_words"),
        dupCount(words(col(textCol))).as("dup_word_n"),
        maxMultiplicity(wordNgrams(col(textCol), 2)).as("top_bigram_n"),
        dupCount(wordNgrams(col(textCol), 3)).as("dup_trigram_n"))
      .withColumn("repetitive",
        col("top_bigram_n") * 100 > (col("n_words") - 1L) * 9L)

  /** Ratio of punctuation chars to total length. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
      length(text).cast("double")

  /** Ratio of alphabetic chars to total length. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      length(text).cast("double")

  val EnStopwords = Seq("the", "and", "of", "to", "in", "a", "is", "for")

  /** Whole-word occurrences of any of the given markers. */
  def markerCount(text: Column, markers: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + markers.mkString("|") + ")\\b"))

  /** Stopword tokens per token — a classic quality signal. */
  def stopwordRatio(text: Column): Column =
    markerCount(text, EnStopwords).cast("double") /
      tokenCount(text).cast("double")

  /** Composite document quality score in [0,1]:
    * 0.5·stopword_ratio + 0.3·alpha_ratio + 0.2·(1 − punct_ratio). */
  def qualityScore(text: Column): Column =
    round(stopwordRatio(text) * 0.5 + alphaRatio(text) * 0.3 +
      (lit(1.0) - punctRatio(text)) * 0.2, 4)

  /** Language marker profiles for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "los", "que", "es"),
    "fr" -> Seq("le", "les", "des", "est", "et", "une"))

  /** Language-ID: argmax of marker-word counts with a fixed priority order
    * on ties (en > de > es > fr) — deterministic, oracle-expressible. */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (l, ms) => l -> markerCount(text, ms) }
    val Seq(en, de, es, fr) = counts.map(_._2)
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Document fingerprint: md5 of the case/whitespace-normalized text —
    * the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Word n-gram shingles (n consecutive words joined by one space).
    * Documents with fewer than n words yield an EMPTY array — the guard
    * matters because `sequence(0, negative)` would count DOWN. */
  def shingles(text: Column, n: Int): Column = shinglesFromWords(words(text), n)

  /** Shingles from an ALREADY-MATERIALIZED words column. Hot paths must
    * stage `select(words) → select(shinglesFromWords)`: when the words
    * expression is inlined, every `element_at(w, …)` inside the transform
    * lambda re-evaluates the whole split — O(words²) per document. With a
    * materialized column the lambda reads an attribute, O(1) per access. */
  def shinglesFromWords(w: Column, n: Int): Column =
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))

  /** One MinHash component: min over shingles of md5(seed:shingle).
    * Hex strings compare lexicographically — identical across engines. */
  def minhashComponent(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr,
      s => md5(concat(lit(s"$seed:"), s).cast("binary"))))

  /** k-component MinHash signature as an array of hex strings. */
  def minhashSignature(text: Column, n: Int, k: Int): Column = {
    val sh = shingles(text, n)
    array((0 until k).map(minhashComponent(sh, _)): _*)
  }

  /** LSH band keys: adjacent signature components hashed together; docs
    * sharing any band key are near-dup candidates. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1)): _*).cast("binary"))
    }: _*)

  /** SimHash over word unigrams, `bits` wide (≤ 16): per word take the
    * first 16 bits of md5, accumulate ±1 per bit position, emit the sign
    * bit-vector as an int. */
  def simhash(text: Column, bits: Int): Column =
    simhashFromTokens(words(text), bits)

  /** [[simhash]] over an arbitrary token array — the general form used by
    * payload-chunk fingerprinting (x96), where the "tokens" are fixed-width
    * blocks of a binary payload's hex encoding rather than words. Per-token
    * hash width follows `bits`: 4 hex chars (16 bits) suffice only up to
    * 16-bit signatures; wider signatures read 8 chars. */
  def simhashFromTokens(w: Column, bits: Int): Column = {
    val hexChars = if (bits <= 16) 4 else 8
    val hashes = transform(w, x =>
      conv(substring(md5(x.cast("binary")), 1, hexChars), 16, 10).cast("long"))
    val bitCols = (0 until bits).map { i =>
      val contrib = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(contrib > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (for near-dup verify). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity of the distinct word n-gram shingle sets — the
    * native one-pass [[graft.functions.expr.NgramJaccard]] expression
    * (registered by GraftExtensions); this runs once per CANDIDATE PAIR in
    * near-dup verification, where the composed form's interpreted lambdas
    * and per-pair array allocations dominate. [[ngramJaccardComposed]] is
    * the built-in reference form; `NgramJaccardSpec` proves them
    * bit-identical. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    graft.functions.expr.NgramJaccard(a, b, n)

  /** The same Jaccard composed from built-ins — the cross-engine-readable
    * reference form of [[ngramJaccard]]. */
  def ngramJaccardComposed(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(shingles(a, n))
    val sb = array_distinct(shingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - size(array_intersect(sa, sb))
    round(inter / uni, 4)
  }
}
