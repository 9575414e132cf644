package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.types.{ArrayType, StringType}

import scala.util.hashing.MurmurHash3

/** Text-pipeline primitives for large-scale training-data curation:
  * tokenization, shingling, MinHash, SimHash, language ID, quality
  * scoring, rolling-hash fingerprints.
  *
  * Design: everything here is a *per-row scalar* — signatures are
  * computed from a document's own tokens with no shuffle, so the ops
  * parallelize embarrassingly at 100 TB. Shuffles happen only in the
  * downstream LSH band-join / dedup groupBys (see queries.TextQ).
  * Tokenize/shingle/BPE-count are native Catalyst expressions
  * (codegen'd); only MinHash/SimHash/langid/fingerprint bodies are Scala
  * UDFs (tight integer loops, no boxing-sensitive inner allocs).
  */
object TextFunctions {

  /** Whitespace tokens, lowercased. The SEMANTIC whitespace class is
    * `[ \x09-\x0d]` (space, tab, LF, VT, FF, CR). On the Spark side
    * that is exactly Java's `\s`, which stays as the shorthand because
    * the JDK compiles predefined classes to an optimized matcher (the
    * explicit class measured ~1.9× slower per split). The DuckDB
    * oracles CANNOT use the shorthand — RE2's `\s` omits \x0b — so
    * every oracle-side regexp_split_to_array spells the class out.
    * The adversarial corpus's VT-bearing documents pin the asymmetry.
    */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Driver-side twin of [[tokens]], used where a sampled document is
    * tokenized on the driver (QualityModel training). Must stay
    * bit-identical to the Column version or the model trains on
    * features the distributed scorer never computes: Spark `trim`
    * strips ASCII spaces only (not tabs/newlines), and `split` runs
    * with limit -1 (trailing empty strings kept — "a b\n" tokenizes
    * as ["a","b",""], and "" as [""]).
    */
  def tokensLocal(text: String): Array[String] = {
    var i = 0
    var j = text.length
    while (i < j && text.charAt(i) == ' ') i += 1
    while (j > i && text.charAt(j - 1) == ' ') j -= 1
    wsPattern.split(
      text.substring(i, j).toLowerCase(java.util.Locale.ROOT), -1)
  }

  /** BPE-ish token count: word pieces + isolated punctuation. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** n-word shingles as space-joined strings, built natively:
    * transform(sequence(...)) stays inside whole-stage codegen.
    * Returns empty array when the doc has fewer than n tokens — guarded
    * explicitly: sequence(0, size-n) steps *down* when size<n (yielding
    * [0,-1]) and element_at would then index out of bounds.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  /** English-ish stopword list used by quality scoring (public, standard). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "by", "at", "that", "this", "be", "are", "was")

  // ---------------------------------------------------------------------
  // MinHash — k seeded universal-hash permutations over shingle hashes.
  // h_i(x) = (a_i * x + b_i) mod p, p Mersenne prime 2^61-1.
  // ---------------------------------------------------------------------
  val minhashK = 16
  private val mersenne61 = (1L << 61) - 1
  private[graft] val hashParams: Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(minhashK)((math.abs(rng.nextLong()) % (mersenne61 - 1) + 1,
      math.abs(rng.nextLong()) % mersenne61))
  }

  /** Deterministic seeded hash-family member: wrapping affine transform
    * plus an avalanche mix (xorshift-multiply, Stafford variant 13 —
    * public domain splitmix64 finalizer), masked positive. Exact modular
    * universality isn't required for MinHash in practice; deterministic
    * good mixing is.
    */
  private[graft] def permute(a: Long, b: Long, x: Long): Long = {
    var z = a * x + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private[graft] def baseHash(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0xdeadbeef)
    val h2 = MurmurHash3.stringHash(s, 0x9747b28c)
    ((h1.toLong << 32) | (h2.toLong & 0xffffffffL)) & ((1L << 61) - 1)
  }

  /** MinHash signature of a shingle set (k mins; empty set → all
    * MaxValue): the native codegen expression (graft.expressions.MinhashSig)
    * over [[baseHash]] and [[permute]], no per-row boxing, stays inside
    * WholeStageCodegen. Resolves in any session built by
    * [[graft.Sessions]] (GraftExtensions injects it).
    */
  def fastMinhashSig(shingles: Column): Column =
    call_function("minhash_sig", shingles)

  /** Band key for LSH: hash of signature slice [band*r, band*r+r). */
  val bandHash: UserDefinedFunction = udf { (sig: Seq[Long], band: Int, r: Int) =>
    MurmurHash3.orderedHash(sig.slice(band * r, band * r + r), band)
  }

  // ---------------------------------------------------------------------
  // SimHash — 64-bit, token-frequency weighted.
  // ---------------------------------------------------------------------
  /** 64-bit token hash for SimHash — the single definition the UDF and
    * the native expression (graft.expressions.Simhash64) both call, so
    * the two surfaces cannot drift.
    */
  private[graft] def simTokenHash(t: String): Long = {
    val h1 = MurmurHash3.stringHash(t, 0x51ed270b)
    val h2 = MurmurHash3.stringHash(t, 0x2545f491)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** 64-bit token-frequency-weighted SimHash over [[simTokenHash]]: the
    * native codegen expression (graft.expressions.Simhash64); same
    * registration contract as [[fastMinhashSig]].
    */
  def fastSimhash64(toks: Column): Column =
    call_function("simhash64", toks)

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---------------------------------------------------------------------
  // Language ID — character/stopword n-gram heuristic (public method:
  // Cavnar & Trenkle n-gram profiles, reduced to marker tables).
  // ---------------------------------------------------------------------
  private[graft] val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "it", "with"),
    "es" -> Set("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "fr" -> Set("le", "les", "des", "une", "est", "dans", "pour", "qui", "pas", "sur"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"))

  /** Heuristic language ID: CJK char ratio → zh; else argmax stopword
    * hit-rate over marker tables; ties and no-hits → "und" (undetermined,
    * ISO 639-2 convention). Deterministic.
    */
  val langId: UserDefinedFunction = udf { text: String =>
    if (text == null || text.isEmpty) "und"
    else {
      val cjk = text.count(ch => Character.UnicodeScript.of(ch) == Character.UnicodeScript.HAN)
      if (cjk * 10 >= text.length) "zh"
      else {
        val toks = text.toLowerCase.split("\\s+")
        val scores = langMarkers.map { case (lang, markers) =>
          lang -> toks.count(markers.contains)
        }
        val best = scores.maxBy { case (lang, n) => (n, lang) }
        if (best._2 == 0) "und" else best._1
      }
    }
  }

  // ---------------------------------------------------------------------
  // Rolling-hash fingerprinting (Rabin-Karp windows + winnowing).
  // ---------------------------------------------------------------------
  private val fpBase = 1000003L
  // 16-char windows: an 8-char window over a small vocabulary is
  // non-discriminative (its document frequency explodes and with it the
  // near-dup candidate join); 16 chars spans ~3 words and stays selective
  private val fpWindow = 16 // chars per rolling window
  private val winnowW = 8   // windows per winnow band

  /** Winnowed fingerprint set of a normalized document: polynomial
    * rolling hashes of `fpWindow`-char windows, then the min of each
    * `winnowW` consecutive hashes (classic winnowing; public algorithm,
    * Schleimer et al. 2003). Returns sorted distinct fingerprints.
    */
  val fingerprints: UserDefinedFunction = udf { text: String =>
    if (text == null) Seq.empty[Long]
    else {
      val s = text.toLowerCase.replaceAll("\\s+", " ").trim
      if (s.length < fpWindow) Seq(s.hashCode.toLong)
      else {
        val n = s.length - fpWindow + 1
        val hashes = new Array[Long](n)
        var h = 0L
        var pow = 1L
        var i = 0
        while (i < fpWindow) { h = h * fpBase + s.charAt(i); if (i > 0) pow *= fpBase; i += 1 }
        hashes(0) = h
        i = 1
        while (i < n) {
          h = (h - s.charAt(i - 1) * pow) * fpBase + s.charAt(i + fpWindow - 1)
          hashes(i) = h
          i += 1
        }
        val out = scala.collection.mutable.SortedSet.empty[Long]
        var w = 0
        while (w + winnowW <= n) {
          var m = hashes(w)
          var j = w + 1
          while (j < w + winnowW) { if (hashes(j) < m) m = hashes(j); j += 1 }
          out += m
          w += winnowW
        }
        out.toSeq
      }
    }
  }
}
