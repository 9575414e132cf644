package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables
import graft.functions.TextFunctions._

/** Training-data text pipeline over `documents`: exact + near dedup,
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Scale design (100 TB): signatures (md5 / minhash / simhash /
  * fingerprints) are per-row scalars — no shuffle. Dedup groupBys
  * shuffle on the signature (uniform keys, no skew). Near-dup candidate
  * generation joins on shingle/band/bucket keys with a document-
  * frequency cap (`maxShingleDf`) so ubiquitous shingles can't produce
  * quadratic blowup — the standard guard in web-scale dedup pipelines.
  */
object TextQ {

  /** DF cap for candidate generation: shingles seen in more docs than
    * this are non-discriminative and dropped (scale guard, no-op at
    * test SF).
    *
    * CAVEAT — the cap bounds what "exact" means: a pair of documents
    * whose ONLY shared shingles are hotter than the cap generates no
    * candidate, so it is invisible to q_doc_ngram_jaccard, to its
    * DuckDB oracle (same HAVING clause — consistent by construction),
    * and to every consumer that treats those pairs as ground truth
    * (MinhashRecallSpec's recall denominator, q_doc_dup_clusters'
    * edge set). Such a pair needs ≥ J/(1+J) of its shingles hot
    * (≥ 1/3 at the 0.5 threshold) — rare for true near-dups, but not
    * impossible for boilerplate-heavy corpora. JaccardCapSpec pins the
    * semantics: capped pairs ⊆ uncapped pairs, equality at test SF,
    * and a cap of 1 demonstrably hides planted pairs. The production
    * near-dup paths (MinHash-LSH, fingerprint winnowing) do not share
    * this blind spot — their candidate keys are signatures, not raw
    * shingles.
    */
  val maxShingleDf = 1000

  /** Exact dedup via content hash: groups identical texts, keeps the
    * min doc_id (deterministic survivor), reports group size.
    */
  val qExactDedup: Q = Q.sql(
    "q_doc_exact_dedup",
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast(BinaryType)).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id").asc)
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  val qTokenCount: Q = Q.sql(
    "q_doc_token_count",
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w \x09-\x0d]')) AS INT) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio —
    * integer components + deterministic double ratios.
    */
  val qQualityScore: Q = Q.sql(
    "q_doc_quality",
    s"""SELECT doc_id, n_chars_calc, n_tokens, n_punct, n_stop,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       |  CAST(n_punct AS DOUBLE) / n_chars_calc AS punct_ratio
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_calc,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS BIGINT) AS n_tokens,
       |    CAST(length(text) - length(regexp_replace(text, '[^\\w \\x09-\\x0d]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+'),
       |      t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS BIGINT) AS n_stop
       |  FROM documents)
       |WHERE n_chars_calc > 0 AND n_tokens > 0
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val toks = tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars_calc"),
      size(toks).cast(LongType).as("n_tokens"),
      (length(col("text")) - length(regexp_replace(col("text"), "[^\\w\\s]", "")))
        .cast(LongType).as("n_punct"),
      size(filter(toks, t => t.isin(stopwords: _*))).cast(LongType).as("n_stop"))
      .filter(col("n_chars_calc") > 0 && col("n_tokens") > 0)
      .withColumn("stopword_ratio", col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("punct_ratio", col("n_punct").cast(DoubleType) / col("n_chars_calc"))
      .orderBy(col("doc_id").asc)
  }

  /** Unigram LM quality scoring (the CCNet/Wikipedia-LM filter shape):
    * train a unigram model on the corpus itself, then score each
    * document by its mean token surprisal — high-surprisal docs are
    * gibberish/rare-token soup, low-surprisal docs are boilerplate;
    * curation keeps the middle band.
    *
    * Surprisal is QUANTIZED to integer bits (ilog2(total) − ilog2(c_w)
    * via `length(bin(x)) − 1`, within 1 bit of −log2 p) so every
    * aggregate is an exact integer sum in both engines — a true
    * Σ ln(c_w) is a sum of transcendentals whose value depends on
    * accumulation order and libm rounding, which the oracle hash
    * contract (QueryDef) forbids. The final mean divides identical
    * integer operands as doubles (bit-identical IEEE division).
    *
    * Scale shape: one shuffle to count the vocab, a broadcast of the
    * (token, bits) table back onto the exploded stream, one shuffle to
    * re-aggregate per doc. At web scale the broadcast becomes top-K
    * vocab + an OOV ceiling (max surprisal) — the filter's standard
    * form; the plan shape is unchanged.
    */
  /** Shared oracle CTE chain: corpus unigram vocab → per-doc integer
    * surprisal aggregates `per_doc(doc_id, n_tokens, sum_bits)` —
    * consumed by q_doc_unigram_surprisal and q_doc_doremi_weights.
    */
  private val surprisalPerDocCte: String =
    """t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS tok
      |  FROM documents),
      |v AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
      |tot AS (SELECT SUM(c) AS tt FROM v),
      |s AS (
      |  SELECT t.doc_id, length(bin(tot.tt)) - length(bin(v.c)) AS bits
      |  FROM t JOIN v USING (tok) CROSS JOIN tot),
      |per_doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(bits) AS BIGINT) AS sum_bits
      |  FROM s GROUP BY doc_id)""".stripMargin

  /** The surprisal build plan, pre-checkpoint — separate from
    * [[surprisalFrame]] so PlanAuditSpec can pin the vocab-broadcast
    * shape (the memoized frame's own plan is just the checkpoint RDD).
    */
  private[graft] def surprisalBuild(s: org.apache.spark.sql.SparkSession,
                                    d: String): DataFrame = {
    val exploded = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = exploded.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").as("tt"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("tok"), (length(bin(col("tt"))) - length(bin(col("c"))))
        .cast(LongType).as("bits"))
    exploded.join(broadcast(scored), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"))
  }

  /** Memoized per-doc surprisal aggregates (doc_id, n_tokens, sum_bits)
    * — one vocab-count + score pass per session per corpus, shared by
    * q_doc_unigram_surprisal and q_doc_doremi_weights.
    */
  private def surprisalFrame(s: org.apache.spark.sql.SparkSession,
                             d: String): DataFrame =
    SharedFrames.frame(s, s"doc_surprisal:$d") {
      surprisalBuild(s, d).localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  val qUnigramSurprisal: Q = Q.sql(
    "q_doc_unigram_surprisal",
    s"""WITH $surprisalPerDocCte
       |SELECT doc_id, n_tokens, sum_bits,
       |  CAST(sum_bits AS DOUBLE) / n_tokens AS mean_bits
       |FROM per_doc
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    surprisalFrame(s, d)
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast(DoubleType) / col("n_tokens")).as("mean_bits"))
      .orderBy(col("doc_id").asc)
  }

  /** Multiplicative-weights step size for [[qDoremiWeights]]. */
  private val doremiEta = "0.1"

  /** DOMAIN-MIXTURE REWEIGHTING, DoReMi-shaped (Xie et al., NeurIPS
    * 2023): domains whose data is HARDER than the corpus average (mean
    * per-token surprisal above the corpus mean — the offline stand-in
    * for DoReMi's proxy-vs-reference excess loss) get their mixture
    * weight multiplicatively boosted from a uniform baseline; at/below
    * -average domains keep the baseline and the whole vector
    * renormalizes. One Group-DRO-style update with a LINEARIZED
    * multiplicative-weights step — w_s ∝ (1 + η·max(0, excess_s)) —
    * because exp() is libm-dependent and would break the bit-exact
    * oracle hash contract (the same reason q_doc_temperature_mix is
    * pinned at α=0.5/sqrt); the linear step is the first-order
    * expansion of DoReMi's exp(η·λ) and order-preserving, which is the
    * semantics that matters for a one-step offline reweight.
    *
    * Determinism: per-source losses are ratios of exact integer sums
    * (the quantized surprisal bits of [[qUnigramSurprisal]]), the
    * normalizer is an order-pinned fold over lexicographically sorted
    * sources (≤ #sources terms, driver-side — the qTemperatureMix
    * pattern), every double op identical in both engines.
    *
    * Scale shape: rides the memoized [[surprisalFrame]]; one
    * doc-bounded join to recover `source`, a #sources-row aggregate
    * collected to the driver, output is the domain-weight table itself.
    */
  val qDoremiWeights: Q = Q.sql(
    "q_doc_doremi_weights",
    s"""WITH $surprisalPerDocCte,
       |per_src AS (
       |  SELECT d.source, COUNT(*) AS n_docs,
       |    CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(p.sum_bits) AS BIGINT) AS sum_bits
       |  FROM per_doc p JOIN documents d USING (doc_id)
       |  GROUP BY d.source),
       |corpus AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS ct,
       |    CAST(SUM(sum_bits) AS BIGINT) AS cb
       |  FROM per_src),
       |scored AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(sum_bits AS DOUBLE) / n_tokens AS mean_bits,
       |    GREATEST(0.0, CAST(sum_bits AS DOUBLE) / n_tokens
       |      - CAST(cb AS DOUBLE) / ct) AS excess
       |  FROM per_src CROSS JOIN corpus),
       |norm AS (
       |  SELECT list_reduce(
       |    list_prepend(0.0, list(1.0 + $doremiEta * excess ORDER BY source ASC NULLS FIRST)),
       |    (x, y) -> x + y) AS z
       |  FROM scored)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, mean_bits,
       |  excess, (1.0 + $doremiEta * excess) / z AS weight
       |FROM scored CROSS JOIN norm
       |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val eta = doremiEta.toDouble
    val perSrc = surprisalFrame(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("sum_bits").as("sum_bits"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)(Q.nullsFirstString)
    val ct = perSrc.map(_._3).sum
    val cb = perSrc.map(_._4).sum
    val corpusMean = cb.toDouble / ct
    val scored = perSrc.map { case (src, nDocs, nTok, sumBits) =>
      val meanBits = sumBits.toDouble / nTok
      val excess = math.max(0.0, meanBits - corpusMean)
      (src, nDocs, nTok, meanBits, excess)
    }
    var z = 0.0 // fold in source order, 0-initialized — mirrors the oracle's pinned list fold
    scored.foreach { case (_, _, _, _, excess) => z += 1.0 + eta * excess }
    import s.implicits._
    scored.map { case (src, nDocs, nTok, meanBits, excess) =>
      (src, nDocs, nTok, meanBits, excess, (1.0 + eta * excess) / z)
    }.toSeq
      .toDF("source", "n_docs", "n_tokens", "mean_bits", "excess", "weight")
      .orderBy(col("source").asc)
  }

  /** PER-SOURCE LEXICAL DIVERSITY — type-token ratio and distinct-n
    * (Li et al. 2016's distinct-1/distinct-3 generation-diversity
    * metrics turned corpus diagnostic): a template-spam or
    * boilerplate-heavy source shows a collapsed distinct-trigram ratio
    * long before pairwise dedup finds the copies, so this is the cheap
    * triage signal for where to point the dedup/repetition operators.
    * Sources without a single ≥3-token doc have no trigram row and drop
    * out (inner join — consistent with the oracle by construction).
    *
    * Scale shape: two two-level aggregations (distinct-within-source,
    * then count) over the token/shingle streams — uniform n-gram keys,
    * ordinary shuffles, output is #sources rows. The oracle contract
    * forces EXACT distinct counts; the 100 TB form swaps in
    * approx_count_distinct (HLL++) with everything else unchanged.
    */
  val qNgramDiversity: Q = Q.sql(
    "q_doc_ngram_diversity",
    """WITH t AS (
      |  SELECT d.source,
      |    unnest(regexp_split_to_array(lower(trim(d.text)), '[ \x09-\x0d]+')) AS tok
      |  FROM documents d),
      |uni AS (
      |  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types
      |  FROM t GROUP BY source),
      |toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS tk
      |  FROM documents),
      |tri AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      |  FROM toks WHERE len(tk) >= 3),
      |tstats AS (
      |  SELECT source, COUNT(*) AS n_trigrams, COUNT(DISTINCT g) AS n_tri_types
      |  FROM tri GROUP BY source)
      |SELECT u.source,
      |  CAST(u.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(u.n_types AS BIGINT) AS n_types,
      |  CAST(u.n_types AS DOUBLE) / u.n_tokens AS ttr,
      |  CAST(s.n_trigrams AS BIGINT) AS n_trigrams,
      |  CAST(s.n_tri_types AS BIGINT) AS n_tri_types,
      |  CAST(s.n_tri_types AS DOUBLE) / s.n_trigrams AS distinct_3
      |FROM uni u JOIN tstats s USING (source)
      |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val uni = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_types"))
    val tri = docs
      .select(col("source"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("source"), explode(shingles(col("tk"), 3)).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_trigrams"), countDistinct(col("g")).as("n_tri_types"))
    uni.join(tri, "source")
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("n_types").cast(DoubleType) / col("n_tokens")).as("ttr"),
        col("n_trigrams"), col("n_tri_types"),
        (col("n_tri_types").cast(DoubleType) / col("n_trigrams")).as("distinct_3"))
      .orderBy(col("source").asc)
  }

  /** Co-occurrence window for [[qPmiPairs]]: a token pairs with the
    * next `pmiWindow - 1` raw positions (the classic ±4-word
    * collocation window, directional form — each unordered pair is
    * counted once per co-occurrence).
    */
  private val pmiWindow = 4

  /** Minimum pair count for a collocation to be reported (noise floor —
    * a pair seen < 5 times has no stable association estimate).
    */
  private val pmiMinCount = 5

  /** PMI COLLOCATION PAIRS (Church & Hanks 1990) — the corpus-level
    * word-association table: for every unordered token pair
    * co-occurring within a [[pmiWindow]]-position window, the pair
    * count, both unigram counts, and the association `lift`
    *   (n_ab / P) / ((n_a / T) · (n_b / T))
    * i.e. exp(PMI) — reported instead of the log because `lift` is a
    * ratio of exactly-representable integers under a PINNED operand
    * order (bit-identical IEEE ops in both engines), while libm `log`
    * may differ in the last ulp between the JVM and DuckDB; log is
    * monotonic, so the ranking is the PMI ranking. Top-50 by lift,
    * pairs below [[pmiMinCount]] suppressed. This is the PPMI/GloVe
    * co-occurrence statistic — the standard input to count-based
    * embedding builds and phrase-mining (word2vec phrase joining).
    *
    * Empty tokens (the tokenizer keeps trailing empties) are excluded
    * on BOTH sides, but window distance is measured on RAW positions,
    * so an intervening empty token still consumes a slot — one
    * contract, spelled identically in engine and oracle.
    *
    * Scale shape: pairs are generated INSIDE the scan per document
    * (`transform` over the token array × a `slice` of the next W−1 —
    * a bounded ×(W−1) row expansion, never a positional self-join),
    * then one map-side-combined groupBy on the pair key; the unigram
    * table (vocabulary-sized) joins broadcast; totals are broadcast
    * 1-row aggregates; the final top-50 is TakeOrderedAndProject. At
    * 100 TB the same plan holds — the pair aggregate is the shuffle
    * (bounded by distinct-pair vocabulary, not corpus size, after
    * map-side combine). The unigram joins carry NO broadcast hint:
    * AQE promotes them to broadcast from the measured shuffle size
    * when the vocabulary fits (it does at every gate SF — pinned by
    * PmiPairsSpec), and keeps them as shuffled joins past the
    * broadcast budget — a hint would instead force an 8 GB-limit
    * failure on a mega-vocabulary corpus (round-12 ADVICE). The
    * ORACLE replays the window as a positional self-join (fine at
    * gate SF; the engine never does).
    */
  val qPmiPairs: Q = Q.sql(
    "q_doc_pmi_pairs",
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tk
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, u.i AS pos, tk[u.i] AS w
       |  FROM d, unnest(range(1, len(tk) + 1)) AS u(i)
       |  WHERE tk[u.i] <> ''),
       |pr AS (
       |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2, COUNT(*) AS n_ab
       |  FROM tok a JOIN tok b
       |    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + ${pmiWindow - 1}
       |  WHERE a.w <> b.w
       |  GROUP BY 1, 2),
       |uni AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM uni),
       |pt AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS p FROM pr)
       |SELECT w1, w2, n_ab, ua.n AS n_a, ub.n AS n_b,
       |  CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
       |    / (CAST(p AS DOUBLE) * CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS lift
       |FROM pr
       |JOIN uni ua ON pr.w1 = ua.w
       |JOIN uni ub ON pr.w2 = ub.w
       |CROSS JOIN tot CROSS JOIN pt
       |WHERE n_ab >= $pmiMinCount
       |ORDER BY lift DESC, w1 ASC, w2 ASC
       |LIMIT 50""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val pairGen = expr(
      s"""flatten(transform(tk, (t, i) ->
         |  transform(
         |    filter(slice(tk, i + 2, ${pmiWindow - 1}),
         |      u -> t <> '' AND u <> '' AND u <> t),
         |    u -> named_struct('w1', least(t, u), 'w2', greatest(t, u)))))""".stripMargin)
    val pc = docs.select(explode(pairGen).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val uni = docs.select(explode(col("tk")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum("n").cast(LongType).as("t"))
    val pt = pc.agg(sum("n_ab").cast(LongType).as("p"))
    pc.filter(col("n_ab") >= pmiMinCount)
      .join(uni.select(col("w").as("w1"), col("n").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(pt))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast(DoubleType) * col("t").cast(DoubleType)
          * col("t").cast(DoubleType)
          / (col("p").cast(DoubleType) * col("n_a").cast(DoubleType)
            * col("n_b").cast(DoubleType))).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }

  private[graft] val deflateAuxDir = s"${OracleAux.root}/doc_deflate"

  /** Compression-ratio quality signal: DEFLATE size over byte length —
    * the cheap entropy proxy (Gopher/MassiveText rules family):
    * boilerplate and template spam compress far below natural prose.
    * Per-row native expression, no shuffle.
    *
    * ORACLE REPLAY (flipped from rows-only in round 6): compressed byte
    * counts are zlib-build-specific, so the engine publishes its
    * (doc_id, deflate_len) table as oracle-aux (kernel pinned by
    * TextFunctionsSpec goldens: repetitive < prose < high-entropy
    * orderings + determinism) and DuckDB independently recomputes the
    * byte length (`octet_length(encode(text))` — engine-portable), the
    * >0 filter, and the IEEE ratio division over the replayed sizes.
    */
  val qCompressRatio: Q = Q.sql(
    "q_doc_compress_ratio",
    s"""WITH a AS (
       |  SELECT doc_id, deflate_len FROM read_parquet('$deflateAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents))
       |SELECT d.doc_id,
       |  CAST(octet_length(encode(d.text)) AS BIGINT) AS byte_len,
       |  a.deflate_len,
       |  CAST(a.deflate_len AS DOUBLE) / octet_length(encode(d.text)) AS compress_ratio
       |FROM documents d JOIN a USING (doc_id)
       |WHERE octet_length(encode(d.text)) > 0
       |ORDER BY d.doc_id ASC""".stripMargin) { (s, d) =>
    deflateFrame(s, d)
      .filter(col("byte_len") > 0)
      .withColumn("compress_ratio",
        col("deflate_len").cast(DoubleType) / col("byte_len"))
      .orderBy(col("doc_id").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, deflateAuxDir, d) {
      OracleAux.write(deflateFrame(s, d).select(col("doc_id"), col("deflate_len")),
        deflateAuxDir, docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** Memoized per-doc (doc_id, byte_len, deflate_len) frame — one
    * deflate pass per session per corpus feeds the catalog query and
    * the aux publish; PURE (the write lives in the prepare hook).
    */
  private def deflateFrame(s: org.apache.spark.sql.SparkSession,
                           d: String): DataFrame =
    SharedFrames.frame(s, s"doc_deflate:$d") {
      Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(col("text")).cast(LongType).as("byte_len"),
          call_function("deflate_size", col("text")).cast(LongType).as("deflate_len"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Candidate-pair CTE prefix (toks → sh → sizes → rare → prepairs):
    * the DF-capped shared-shingle candidate machinery common to the
    * Jaccard and containment rerank oracles. `prepairs.shared` counts
    * shared RARE shingles (the declared candidate cap — see
    * [[maxShingleDf]]).
    */
  val candidatePairsSqlPrefix: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |rare AS (
       |  SELECT shingle FROM sh GROUP BY shingle
       |  HAVING COUNT(*) <= $maxShingleDf),
       |prepairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN rare r ON a.shingle = r.shingle
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** The jaccard-pair CTE chain (no final ORDER BY) — shared between
    * q_doc_ngram_jaccard's oracle and q_doc_dup_clusters' edge set.
    * Emits pairs(doc_a, doc_b, jaccard) with jaccard ≥ 0.5.
    */
  val jaccardPairsSql: String =
    s"""$candidatePairsSqlPrefix,
       |pairs AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) AS jaccard
       |  FROM prepairs p
       |  JOIN sizes sa ON p.doc_a = sa.doc_id
       |  JOIN sizes sb ON p.doc_b = sb.doc_id
       |  WHERE CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) >= 0.5)""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs, candidates from shared
    * shingles (with DF cap), verified exactly. Fully SQL-expressible →
    * strong oracle for the whole near-dup family — strong UP TO the
    * DF cap: pairs sharing only hotter-than-cap shingles are invisible
    * to engine and oracle alike (see [[maxShingleDf]]).
    */
  /** The exact-Jaccard pair table, materialized once per (session,
    * corpus) and shared by q_doc_ngram_jaccard, q_doc_dup_clusters and
    * q_doc_cluster_rep — the sf1 top-three each independently rebuilt
    * this same shingle-candidate subtree (round-4 verdict #2). The pair
    * table is near-dup-sized (tiny relative to the corpus), so the
    * checkpoint is cheap to hold.
    */
  /** Memoized candidate-pair stats (doc_a, doc_b, shared, n_a, n_b):
    * DF-capped shared-shingle candidate pairs with their shared-rare-
    * shingle count and both set sizes — the single candidate-join pass
    * that the Jaccard AND containment reranks both derive from (one
    * more metric costs a filter, not a second corpus join).
    *
    * MEMOIZED ROWS ARE THE CONSUMERS' PREDICATE UNION (round-11): the
    * r10 shape checkpointed every pair with ≥ 1 shared rare shingle —
    * "near-dup-cheap" rotted at scale into a 7.48 GB / ~150 M-row
    * resident frame at sf10, and its 32 × 230 MB disk-block
    * re-promotions under LRU pressure were exactly the full-sweep OOM
    * (the candidate JOIN is cheap to stream; it was the
    * materialization that hurt). Every consumer filters hard —
    * Jaccard ≥ 0.5, containment ≥ 0.8 — so the memo keeps only rows
    * passing EITHER predicate (consumers re-apply their exact filter;
    * union-then-refilter is semantically identical), and the
    * checkpoint is genuinely near-dup-sized. A NEW consumer with a
    * weaker predicate must widen this union filter — that contract
    * lives here, next to the filter.
    */
  private[graft] def candidatePairStats(s: org.apache.spark.sql.SparkSession,
                                        d: String): DataFrame =
    SharedFrames.frame(s, s"cand_pair_stats:$d") {
      candidatePairs(s, d, maxShingleDf)
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** The candidate-join pass [[candidatePairStats]] memoizes, before
    * its checkpoint. "Exact" is relative to the candidate cap: pairs
    * sharing only shingles hotter than `dfCap` are not emitted (see
    * the [[maxShingleDf]] caveat). `dfCap` is a parameter so
    * JaccardCapSpec can measure that sensitivity; the catalog always
    * runs the production [[maxShingleDf]].
    */
  private[graft] def candidatePairs(s: org.apache.spark.sql.SparkSession,
                                    d: String, dfCap: Int): DataFrame = {
    // checkpointed: feeds sizes, the DF filter, and both sides of the
    // pair join — without it the tokenize+explode+distinct runs three
    // times
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles(col("t"), 3)).as("shingle"))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("shingle")
    sh.join(rare, "shingle").as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      // consumers' predicate union — see [[candidatePairStats]]; widen when adding
      // a consumer with a weaker threshold
      .filter(
        col("shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("shared")) >= 0.5 ||
        col("shared").cast(DoubleType) / least(col("n_a"), col("n_b")) >= 0.8)
  }

  def jaccardPairsShared(s: org.apache.spark.sql.SparkSession,
                         d: String): DataFrame =
    SharedFrames.frame(s, s"jaccard_pairs:$d") {
      val jac = col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared"))
      candidatePairStats(s, d)
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  val qNgramJaccard: Q = Q.sql(
    "q_doc_ngram_jaccard",
    s"""$jaccardPairsSql
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    jaccardPairsShared(s, d).orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** CONTAINMENT near-dup — the asymmetric overlap coefficient
    * |A∩B| / min(|A|, |B|) over the same DF-capped candidate pairs:
    * catches a document QUOTED OR EMBEDDED inside a much larger one
    * (containment 1.0) that symmetric Jaccard scores near 0 — the
    * quote/subset leak class that pure Jaccard dedup ships to
    * training. Output keeps both metrics so the gap is visible.
    *
    * Scale shape: a filter over [[candidatePairStats]] — the memoized
    * candidate-join pass Jaccard already pays; no additional scan or
    * shuffle. Inherits the [[maxShingleDf]] candidate cap (a subset
    * whose every shingle is corpus-hot is invisible — disclosed, same
    * as the Jaccard family).
    */
  val qContainment: Q = Q.sql(
    "q_doc_containment",
    s"""$candidatePairsSqlPrefix,
       |cont AS (
       |  SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared,
       |    CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       |    CAST(p.shared AS DOUBLE) / least(sa.n, sb.n) AS containment,
       |    CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) AS jaccard
       |  FROM prepairs p
       |  JOIN sizes sa ON p.doc_a = sa.doc_id
       |  JOIN sizes sb ON p.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, shared, n_a, n_b, containment, jaccard
       |FROM cont WHERE containment >= 0.8
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    val cont = col("shared").cast(DoubleType) / least(col("n_a"), col("n_b"))
    val jac = col("shared").cast(DoubleType) /
      (col("n_a") + col("n_b") - col("shared"))
    candidatePairStats(s, d)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        cont.as("containment"), jac.as("jaccard"))
      .filter(col("containment") >= 0.8)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** MinHash + LSH near-dup: per-row signatures → band buckets →
    * candidate pairs → exact Jaccard rerank. Not ANSI-expressible
    * (seeded hash family) → rows-only gate; MinhashRecallSpec checks
    * recall against q_doc_ngram_jaccard's exact pairs.
    *
    * Scale shape: the band self-join carries (doc_id, band, bh) ONLY —
    * shingle payloads would otherwise ride through every candidate pair
    * ×bands before dedup (the round-1 scale-killer). Pairs are deduped
    * first, then the doc_id→shingles table is joined back exactly twice
    * for the rerank.
    */
  /** Corpus fingerprint for documents-table aux writes (same contract
    * as BpeQ: the oracle recomputes SUM(n_chars), so stale aux for a
    * different SF can never satisfy the filter).
    */
  private def docsKey(docs: DataFrame): Long =
    docs.agg(sum("n_chars")).head.getLong(0)

  private[graft] val minhashBandsAuxDir = s"${OracleAux.root}/minhash_bands"

  private[graft] val minhashBands = 4

  /** Memoized (doc_id, sh) shingle frame — feeds the signature pass
    * and both payload re-joins of the exact-Jaccard rerank.
    */
  private[graft] def minhashShingles(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    SharedFrames.frame(s, s"minhash_shingles:$d") {
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), shingles(col("t"), 3).as("sh"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Memoized (doc_id, band, bh) MinHash band table — one signature
    * pass per session per corpus; PURE (the oracle-replay parquet
    * publish lives in the query's prepare hook).
    */
  private[graft] def minhashBandedFrame(s: org.apache.spark.sql.SparkSession,
                                 d: String): DataFrame = {
    val rowsPerBand = minhashK / minhashBands
    SharedFrames.frame(s, s"minhash_bands:$d") {
      minhashShingles(s, d)
        .withColumn("sig", fastMinhashSig(col("sh")))
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), lit(minhashBands - 1)),
            bb => struct(bb.as("band"),
              bandHash(col("sig"), bb, lit(rowsPerBand)).as("bh")))).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bh"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  val qMinhashLsh: Q = Q.sql(
    "q_doc_minhash_lsh",
    s"""WITH banded AS (
       |  SELECT doc_id, band, bh
       |  FROM read_parquet('$minhashBandsAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS shr
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT s.doc_a, s.doc_b,
       |  CAST(s.shr AS DOUBLE) / (sa.n + sb.n - s.shr) AS jaccard
       |FROM shared s
       |JOIN sizes sa ON s.doc_a = sa.doc_id
       |JOIN sizes sb ON s.doc_b = sb.doc_id
       |WHERE CAST(s.shr AS DOUBLE) / (sa.n + sb.n - s.shr) >= 0.5
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    doc = "ORACLE REPLAY: the engine materializes its (doc_id, band, bh) " +
      "MinHash band table (kernel spec-pinned by MinhashRecallSpec + " +
      "TextFunctionsSpec bit-identity); DuckDB replays candidate " +
      "generation, pair dedup, and the exact-Jaccard rerank from raw " +
      "documents — every relational step downstream of the seeded hash " +
      "is hash-verified.") { (s, d) =>
    val docs = minhashShingles(s, d)
    val banded = minhashBandedFrame(s, d)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
      size(array_union(col("sh_a"), col("sh_b")))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, minhashBandsAuxDir, d) {
      OracleAux.write(minhashBandedFrame(s, d), minhashBandsAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  private[graft] val simhashSigAuxDir = s"${OracleAux.root}/simhash_sig"

  /** Memoized (doc_id, sim) SimHash signature frame — one signature
    * pass per session per corpus; PURE (aux publish in prepare hook).
    */
  private def simhashSigFrame(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame = {
    SharedFrames.frame(s, s"simhash_sig:$d") {
      Tables.documents(s, d)
        .select(col("doc_id"), fastSimhash64(tokens(col("text"))).as("sim"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  /** SimHash near-dup: 64-bit signatures, candidates via 16-bit band
    * equality (any of 4 bands), hamming ≤ 6 verified.
    *
    * ORACLE REPLAY: the engine materializes its (doc_id, sim)
    * signature table (kernel spec-pinned by SimhashSpec golden
    * cases); DuckDB replays the 16-bit banding with plain bit
    * arithmetic ((sim >> 16b) & 0xFFFF — the mask makes arithmetic vs
    * logical shift irrelevant), the band self-join, pair dedup, and
    * the XOR-popcount hamming filter.
    */
  val qSimhash: Q = Q.sql(
    "q_doc_simhash",
    s"""WITH sig AS (
       |  SELECT doc_id, sim FROM read_parquet('$simhashSigAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |banded AS (
       |  SELECT doc_id, sim, b.band,
       |    (sim >> (b.band * 16)) & 65535 AS bh
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 6
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    // memoized checkpoint: one signature pass per session per corpus;
    // the band self-join reads both sides from the checkpoint
    val docs = simhashSigFrame(s, d)
    val banded = docs.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xffffL)).as("bh"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("sim"), col("bb.band"), col("bb.bh"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hammingDist(col("a.sim"), col("b.sim")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= 6)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, simhashSigAuxDir, d) {
      OracleAux.write(simhashSigFrame(s, d), simhashSigAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** The marker table as SQL VALUES rows, from the ONE definition in
    * TextFunctions — the oracle and the engine can never drift.
    */
  private def langMarkerValues: String =
    graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1).flatMap {
      case (lang, markers) => markers.toSeq.sorted.map(m => s"('$lang','$m')")
    }.mkString(", ")

  /** Language ID — the [[graft.functions.TextFunctions.langId]]
    * heuristic re-expressed RELATIONALLY so DuckDB can replay it
    * (flipped from rows-only in round 5): tokens join the 40-row
    * marker table (broadcast), per-(doc, lang) hit counts aggregate
    * map-side, and `max(struct(n, lang))` picks the winner with the
    * UDF's exact tie-break (ties → lexicographically greatest lang,
    * the `maxBy` tuple ordering). The CJK branch counts Han-script
    * chars with a regex — Java `\p{IsHan}` and RE2 `\p{Han}` name the
    * same Unicode script property. No-hit and empty docs → "und".
    * LangIdSpec pins relational == UDF on the corpus AND on real
    * multilingual fixture text.
    *
    * Scale shape: marker join broadcasts; hit counts combine map-side
    * before the doc-keyed shuffle; the Han count fuses into the scan.
    * Same plan class as q_doc_quality_model scoring.
    */
  val qLangId: Q = Q.sql(
    "q_doc_langid",
    s"""WITH m(lang, marker) AS (VALUES $langMarkerValues),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS tok
       |  FROM documents),
       |hits AS (
       |  SELECT t.doc_id, m.lang, COUNT(*) AS n
       |  FROM tok t JOIN m ON m.marker = t.tok GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lang DESC) AS rn
       |  FROM hits),
       |d AS (
       |  SELECT doc_id, lang AS lang_meta, text,
       |    length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS han
       |  FROM documents)
       |SELECT d.doc_id, d.lang_meta,
       |  CASE WHEN d.text IS NULL OR d.text = '' THEN 'und'
       |       WHEN d.han * 10 >= length(d.text) THEN 'zh'
       |       WHEN b.lang IS NULL THEN 'und'
       |       ELSE b.lang END AS lang_pred
       |FROM d LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY d.doc_id ASC""".stripMargin) { (s, d) =>
    val mdf = {
      import s.implicits._
      graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1).flatMap {
        case (lang, markers) => markers.toSeq.sorted.map(m => (lang, m))
      }.toDF("lang", "marker")
    }
    val docs = Tables.documents(s, d)
    val best = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(broadcast(mdf), col("tok") === col("marker"))
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(struct(col("n"), col("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("hit_lang"))
    val hanCnt =
      length(col("text")) - length(regexp_replace(col("text"), "\\p{IsHan}", ""))
    docs.select(col("doc_id"), col("lang").as("lang_meta"), col("text"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_meta"),
        when(col("text").isNull || length(col("text")) === 0, lit("und"))
          .when(hanCnt * lit(10) >= length(col("text")), lit("zh"))
          .when(col("hit_lang").isNull, lit("und"))
          .otherwise(col("hit_lang")).as("lang_pred"))
      .orderBy(col("doc_id").asc)
  }

  // declared BEFORE the two query vals that interpolate it (object
  // vals initialize in declaration order; a forward reference would
  // silently read null into the oracle SQL)
  private[graft] val fingerprintAuxDir = s"${OracleAux.root}/doc_fingerprints"

  /** Winnowed rolling-hash fingerprint summary per document: the
    * MOSS-style signature set's minimum (min over the set — identical
    * on the raw or distinct fingerprint list) and
    * its distinct-set size.
    *
    * ORACLE REPLAY (flipped from rows-only in round 6): the seeded
    * rolling hash itself is engine-specific, but the same distinct
    * (doc_id, fp) table q_doc_fingerprint_neardup already publishes as
    * oracle-aux (winnowing kernel pinned by FingerprintSpec golden
    * windows) lets DuckDB independently replay the per-doc MIN/COUNT
    * aggregation and the left join that keeps fingerprint-less (short)
    * docs with a 0 count. One winnowing pass serves both queries.
    */
  val qFingerprint: Q = Q.sql(
    "q_doc_fingerprint",
    s"""WITH fps AS (
       |  SELECT doc_id, fp FROM read_parquet('$fingerprintAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |agg AS (
       |  SELECT doc_id, MIN(fp) AS fingerprint, COUNT(*) AS n_fingerprints
       |  FROM fps GROUP BY doc_id)
       |SELECT d.doc_id, a.fingerprint,
       |  COALESCE(a.n_fingerprints, 0) AS n_fingerprints
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id ASC""".stripMargin) { (s, d) =>
    val agg = fingerprintFrame(s, d).groupBy("doc_id")
      .agg(min(col("fp")).as("fingerprint"),
        count(lit(1)).as("n_fingerprints"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fingerprint"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"))
      .orderBy(col("doc_id").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, fingerprintAuxDir, d) {
      OracleAux.write(fingerprintFrame(s, d), fingerprintAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** Multimodal plumbing: opaque binary payload + typed metadata.
    * Byte length + sha256 are engine-portable → full oracle.
    */
  val qBinaryMeta: Q = Q.sql(
    "q_doc_binary_meta",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  sha256(text) AS sha
      |FROM documents
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text").cast(BinaryType)).cast(LongType).as("byte_len"),
      sha2(col("text").cast(BinaryType), 256).as("sha"))
      .orderBy(col("doc_id").asc)
  }

  /** Tokenizer as a Generator (SURVEY §2.9): posexplode flattens each
    * document into an ordered (doc_id, pos, token) table — the
    * materialized form every downstream n-gram/BPE pass starts from.
    * Narrow op (Generate), no shuffle.
    */
  val qTokensExploded: Q = Q.sql(
    "q_doc_tokens_exploded",
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT d.doc_id, CAST(u.i - 1 AS INT) AS pos, toks[u.i] AS token
      |FROM d, unnest(range(1, len(toks) + 1)) AS u(i)
      |ORDER BY doc_id ASC, pos ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("token"))
      .orderBy(col("doc_id").asc, col("pos").asc)
  }

  /** Fingerprint-overlap near-dup (MOSS-style): winnowed fingerprints
    * explode to (doc_id, fp) keys, a DF-capped self-join on the
    * fingerprint meets candidates, pairs sharing ≥ `minShared`
    * fingerprints emit. Same scale shape as the shingle join — keys
    * only through the shuffle, df cap kills ubiquitous fingerprints.
    * Seeded hashes → rows-only; FingerprintNearDupSpec grades recall
    * of exact-duplicate pairs. (The aux dir val is declared above
    * [[qFingerprint]], which shares the same published table.)
    */

  /** The shared ≥3-fingerprints threshold (engine + oracle). */
  val fingerprintMinShared = 3

  /** Tighter DF cap for fingerprint candidates: character windows are
    * far less discriminative than 3-word shingles, so a fingerprint
    * seen in more than this many docs contributes quadratic candidate
    * pairs with near-zero signal. (Declared BEFORE the query val that
    * interpolates it — object vals initialize in declaration order and
    * a forward reference silently reads 0.)
    */
  val maxFingerprintDf = 100

  /** ORACLE REPLAY: the engine materializes its distinct (doc_id, fp)
    * winnowed-fingerprint table (kernel spec-pinned by FingerprintSpec
    * golden windows); DuckDB replays the DF cap, the fingerprint
    * self-join, and the shared-count threshold.
    */
  val qFingerprintNearDup: Q = Q.sql(
    "q_doc_fingerprint_neardup",
    s"""WITH fps AS (
       |  SELECT doc_id, fp FROM read_parquet('$fingerprintAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |rare AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= $maxFingerprintDf),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    COUNT(*) AS shared_fps
       |  FROM fps a
       |  JOIN rare r ON a.fp = r.fp
       |  JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, shared_fps FROM pairs
       |WHERE shared_fps >= $fingerprintMinShared
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    fingerprintNearDupFromFp(fingerprintFrame(s, d),
      minShared = fingerprintMinShared)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, fingerprintAuxDir, d) {
      OracleAux.write(fingerprintFrame(s, d), fingerprintAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** Memoized distinct (doc_id, fp) winnowed-fingerprint frame — one
    * winnowing pass per session per corpus feeds the DF-cap aggregate
    * and both join sides; PURE (aux publish in prepare hook).
    */
  private def fingerprintFrame(s: org.apache.spark.sql.SparkSession,
                               d: String): DataFrame =
    SharedFrames.frame(s, s"doc_fingerprints:$d") {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(fingerprints(col("text"))).as("fp"))
        .distinct()
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** The DF-cap + self-join stage over a precomputed distinct
    * (doc_id, fp) frame — split out so the catalog entry can share one
    * cached winnowing pass between the aux write and the join.
    */
  def fingerprintNearDupFromFp(fp: org.apache.spark.sql.DataFrame,
                               minShared: Int): org.apache.spark.sql.DataFrame = {
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFingerprintDf).select("fp")
    val fpRare = fp.join(rare, "fp")
    fpRare.as("a")
      .join(fpRare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  private[graft] val qualityModelAuxDir = s"${OracleAux.root}/quality_model"

  /** Trained-once-per-(session, corpus) quantized weight table; PURE —
    * the oracle-replay publish is [[prepareQualityModel]].
    */
  private def qualityWeights(s: org.apache.spark.sql.SparkSession,
                             d: String): Seq[(String, java.math.BigDecimal)] =
    SharedFrames.value(s, s"quality_model:$d") {
      graft.functions.QualityModel.train(Tables.documents(s, d))
    }

  /** Prepare hook: publish the quantized weight table for the DuckDB
    * replay of q_doc_quality_model.
    */
  private def prepareQualityModel(s: org.apache.spark.sql.SparkSession,
                                  d: String): Unit =
    OracleAux.prepareOnce(s, qualityModelAuxDir, d) {
      val w = qualityWeights(s, d)
      val df = s.createDataFrame(
        java.util.Arrays.asList(
          w.map { case (t, wt) => org.apache.spark.sql.Row(t, wt) }: _*),
        StructType(Seq(
          StructField("term", StringType, nullable = false),
          StructField("weight", DecimalType(18, 6), nullable = false))))
      OracleAux.write(df, qualityModelAuxDir, docsKey(Tables.documents(s, d)))
    }

  /** MODEL-BASED quality filtering (the GPT-3/CCNet stage that follows
    * the heuristic cuts): a fasttext-style linear classifier over
    * unigram frequencies — trained on a bounded driver-side sample
    * against the stopword-fraction heuristic, published as a
    * DECIMAL(18,6) weight table ([[graft.functions.QualityModel]]) —
    * scores every document; `pred_keep` is the filter bit. ORACLE
    * REPLAY: DuckDB reads the quantized weight table and replays the
    * tokenize → count → decimal Σ w·c → IEEE divide pipeline
    * bit-identically (a double weight table would not replay — engines
    * round binary64→decimal differently, and double Σ is
    * order-dependent).
    *
    * Scale shape: the 257-row weight table broadcasts; tokens explode
    * and pre-aggregate per (doc, term) map-side; one doc-keyed shuffle
    * re-aggregates — same plan class as TF-IDF. Training cost is a
    * per-corpus constant (one vocab pass + a ≤1000-doc collect).
    */
  val qQualityModel: Q = Q.sql(
    "q_doc_quality_model",
    s"""WITH w AS (
       |  SELECT term, weight FROM read_parquet('$qualityModelAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, term, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(tok) AS term FROM t)
       |  GROUP BY doc_id, term),
       |f AS (
       |  SELECT cnt.doc_id, SUM(w.weight * cnt.c) AS s
       |  FROM cnt JOIN w ON w.term = cnt.term
       |  WHERE w.term <> '${graft.functions.QualityModel.biasTerm}'
       |  GROUP BY cnt.doc_id),
       |b AS (SELECT CAST(weight AS DOUBLE) AS bias FROM w
       |      WHERE term = '${graft.functions.QualityModel.biasTerm}'),
       |n AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens
       |      FROM t WHERE len(tok) > 0)
       |SELECT n.doc_id, n.n_tokens,
       |  CAST(COALESCE(f.s, 0) AS DOUBLE) / n.n_tokens + b.bias AS model_score,
       |  (CAST(COALESCE(f.s, 0) AS DOUBLE) / n.n_tokens + b.bias) >= 0.0
       |    AS pred_keep
       |FROM n CROSS JOIN b
       |LEFT JOIN f ON f.doc_id = n.doc_id
       |ORDER BY n.doc_id ASC""".stripMargin) { (s, d) =>
    val weights = qualityWeights(s, d)
    val bias = weights.find(_._1 == graft.functions.QualityModel.biasTerm)
      .get._2.doubleValue
    val wdf = {
      import s.implicits._
      weights.filter(_._1 != graft.functions.QualityModel.biasTerm)
        .map { case (t, wt) => (t, scala.math.BigDecimal(wt)) }
        .toDF("term", "weight")
        .select(col("term"), col("weight").cast(DecimalType(18, 6)).as("weight"))
    }
    val docs = Tables.documents(s, d)
    val cnt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val f = cnt.join(broadcast(wdf), "term")
      .groupBy("doc_id").agg(sum(col("weight") * col("c")).as("s"))
    val score =
      coalesce(col("s"), lit(java.math.BigDecimal.ZERO)).cast(DoubleType) /
        col("n_tokens").cast(DoubleType) + lit(bias)
    docs.select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .join(f, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        score.as("model_score"),
        (score >= 0.0).as("pred_keep"))
      .orderBy(col("doc_id").asc)
  }.preparedBy(prepareQualityModel)

  /** Sequence-LENGTH BUCKETING — the batching-shape audit a training
    * loader runs before fixing its bucket boundaries (docs batch with
    * same-length peers; padding waste is bounded by the bucket width):
    * per power-of-2 token-length bucket (ilog2 via `length(bin(x))-1`,
    * the same integer-exact idiom as the surprisal quantization — no
    * floating log), the doc count, token mass, and length bounds.
    *
    * Scale shape: one map-side-combining aggregate over a per-row
    * bucket key (~30 possible buckets) — no join, no window; the scan
    * reads only doc lengths.
    */
  val qLengthBuckets: Q = Q.sql(
    "q_doc_length_buckets",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket
      |  FROM t WHERE n > 0)
      |SELECT bucket,
      |  CAST(POW(2, bucket) AS BIGINT) AS bucket_lo,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
      |  MIN(n) AS min_tokens, MAX(n) AS max_tokens
      |FROM b GROUP BY bucket
      |ORDER BY bucket ASC""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", (length(bin(col("n"))) - 1).cast(LongType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast(LongType).as("sum_tokens"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .withColumn("bucket_lo", pow(lit(2.0), col("bucket")).cast(LongType))
      .select(col("bucket"), col("bucket_lo"), col("n_docs"),
        col("sum_tokens"), col("min_tokens"), col("max_tokens"))
      .orderBy(col("bucket").asc)
  }

  private[graft] val dsirAuxDir = s"${OracleAux.root}/dsir"

  /** Top-K cut for the DSIR selection output (the "resampled" subset). */
  val dsirSelectCount = 200

  /** Hashed-n-gram feature expression shared by the DSIR trainer and
    * scorer: unigrams ++ adjacent bigrams over `tokens()`, each gram
    * hashed to one of 256 buckets by its first two md5 hex chars (the
    * paper's hashing trick, sized to the synthetic vocab — widen the
    * prefix for a production vocabulary). Trailing empty tokens ride
    * through like everywhere else in the tokens() family; both engines
    * build the identical gram multiset.
    */
  private def dsirGrams(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(tok,
      when(size(tok) >= 2,
        zip_with(
          slice(tok, lit(1), size(tok) - 1),
          slice(tok, lit(2), size(tok) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast(ArrayType(StringType))))

  /** Per-(doc, bucket) hashed-gram counts — the shared feature pass. */
  private def dsirBucketCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("tok", tokens(col("text")))
      .filter(size(col("tok")) > 0)
      .select(col("doc_id"), col("source"),
        explode(dsirGrams(col("tok"))).as("gram"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("gram")), 1, 2).as("bucket"))

  /** DSIR log-importance table: target = docs from the
    * lexicographically-first `source` (the "domain we want more of"),
    * raw = the whole corpus. λ_b = log p_target(b) − log p_raw(b) with
    * add-one smoothing over the 256 hashed buckets, computed on the
    * driver from one distributed counting pass (≤256 collected rows)
    * and quantized HALF_UP to DECIMAL(18,6) so DuckDB replays scoring
    * exactly (same contract as the quality-model weight table).
    */
  private[graft] def dsirLambdas(
      docs: DataFrame): Seq[(String, java.math.BigDecimal)] = {
    val tgt = docs.agg(min(col("source"))).head.getString(0)
    val counts = dsirBucketCounts(docs)
      .groupBy("bucket")
      .agg(count(lit(1)).as("raw"),
        sum(when(col("source") === tgt, 1L).otherwise(0L)).as("tgt"))
      .collect()
    val b = 256.0
    val nRaw = counts.map(_.getLong(1)).sum.toDouble
    val nTgt = counts.map(_.getLong(2)).sum.toDouble
    counts.map { r =>
      val pt = (r.getLong(2) + 1.0) / (nTgt + b)
      val pr = (r.getLong(1) + 1.0) / (nRaw + b)
      (r.getString(0), java.math.BigDecimal.valueOf(math.log(pt) - math.log(pr))
        .setScale(6, java.math.RoundingMode.HALF_UP))
    }.sortBy(_._1).toSeq
  }

  /** Memoized per-(session, corpus) λ table; PURE — the oracle-replay
    * publish is [[prepareDsir]].
    */
  private def dsirWeights(s: org.apache.spark.sql.SparkSession,
                          d: String): Seq[(String, java.math.BigDecimal)] =
    SharedFrames.value(s, s"dsir:$d") {
      dsirLambdas(Tables.documents(s, d))
    }

  /** Prepare hook: publish the quantized λ table for the DuckDB replay
    * of q_doc_dsir.
    */
  private def prepareDsir(s: org.apache.spark.sql.SparkSession,
                          d: String): Unit =
    OracleAux.prepareOnce(s, dsirAuxDir, d) {
      val lam = dsirWeights(s, d)
      val df = s.createDataFrame(
        java.util.Arrays.asList(
          lam.map { case (bk, l) => org.apache.spark.sql.Row(bk, l) }: _*),
        StructType(Seq(
          StructField("bucket", StringType, nullable = false),
          StructField("lambda", DecimalType(18, 6), nullable = false))))
      OracleAux.write(df, dsirAuxDir, docsKey(Tables.documents(s, d)))
    }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * select raw-corpus documents that look like a target domain by
    * importance weight under hashed-n-gram bag models. Each doc scores
    * Σ c_b·λ_b over its hashed unigram+bigram bucket counts; the
    * catalog entry emits the deterministic variant of the paper's
    * resampling — the top-[[dsirSelectCount]] docs by log-weight
    * (ties → doc_id). ORACLE REPLAY: DuckDB reads the quantized λ
    * table, rebuilds the identical gram multiset, and replays
    * count → decimal Σ → final double cast bit-identically.
    *
    * Scale shape: training is ONE distributed counting pass collecting
    * ≤256 rows; scoring explodes grams, pre-aggregates per (doc,
    * bucket) map-side, joins the broadcast 256-row λ table, and
    * re-aggregates per doc; the cut is TakeOrderedAndProject — no
    * global sort, no window. At 100 TB the only growth axis is the
    * doc-keyed shuffle, same class as q_doc_token_count.
    */
  val qDsir: Q = Q.sql(
    "q_doc_dsir",
    s"""WITH lam AS (
       |  SELECT bucket, lambda FROM read_parquet('$dsirAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    list_concat(tok,
       |      list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1]))
       |      AS grams
       |  FROM t WHERE len(tok) > 0),
       |c AS (
       |  SELECT doc_id, substring(md5(gram), 1, 2) AS bucket, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
       |  GROUP BY doc_id, substring(md5(gram), 1, 2)),
       |s AS (
       |  SELECT c.doc_id, SUM(lam.lambda * c.c) AS s,
       |    CAST(SUM(c.c) AS BIGINT) AS n_grams
       |  FROM c JOIN lam ON lam.bucket = c.bucket
       |  GROUP BY c.doc_id)
       |SELECT doc_id, n_grams, CAST(s AS DOUBLE) AS dsir_logw
       |FROM s
       |ORDER BY dsir_logw DESC NULLS LAST, doc_id ASC
       |LIMIT $dsirSelectCount""".stripMargin) { (s, d) =>
    val lam = dsirWeights(s, d)
    val lamDf = {
      import s.implicits._
      lam.map { case (bk, l) => (bk, scala.math.BigDecimal(l)) }
        .toDF("bucket", "lambda")
        .select(col("bucket"),
          col("lambda").cast(DecimalType(18, 6)).as("lambda"))
    }
    dsirBucketCounts(Tables.documents(s, d))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(lamDf), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("lambda") * col("c")).as("s"),
        sum(col("c")).cast(LongType).as("n_grams"))
      .select(col("doc_id"), col("n_grams"),
        col("s").cast(DoubleType).as("dsir_logw"))
      .orderBy(col("dsir_logw").desc_nulls_last, col("doc_id").asc)
      .limit(dsirSelectCount)
  }.preparedBy(prepareDsir)

  private[graft] val lmAuxDir = s"${OracleAux.root}/lm_bigram"

  /** Vocabulary cap for the bigram LM: top-[[lmVocabSize]] corpus
    * tokens by (count desc, token asc); everything else maps to
    * [[lmUnk]]. Sized to the synthetic vocab so the in-scan membership
    * literal stays cheap — a production run uses ~50k types with
    * count-pruned bigrams (KenLM's pruning), at which point the model
    * table graduates from broadcast to a (u,w)-keyed hash join.
    */
  val lmVocabSize = 512
  val lmUnk = "<unk>"

  /** Capped-vocab token mapping shared by LM training and scoring: an
    * O(1) broadcast hash-set lookup per token, one UDF call per row
    * over the whole array — no shuffle, no per-token join. (The
    * codegen'd `array_contains(literal, t)` alternative is a linear
    * V-wide scan per token: measured 12.6x slower for 10x data at sf1
    * — the set lookup is worth losing whole-stage codegen for this
    * one projection.)
    */
  private def lmMapUdf(docs: DataFrame, vocab: Seq[String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab.toSet)
    udf { toks: Seq[String] =>
      if (toks == null) null
      else toks.map(t => if (bc.value.contains(t)) t else lmUnk)
    }
  }

  /** doc_id → mapped adjacent-bigram strings ("u w"; whitespace tokens
    * cannot contain the separator) over docs with ≥2 tokens — the
    * event stream both LM passes count/score.
    */
  private def lmPairs(docs: DataFrame, vocab: Seq[String]): DataFrame =
    docs
      .withColumn("tok", tokens(col("text")))
      .filter(size(col("tok")) >= 2)
      .withColumn("tok", lmMapUdf(docs, vocab)(col("tok")))
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("tok"), lit(1), size(col("tok")) - 1),
          slice(col("tok"), lit(2), size(col("tok")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("gram"))

  /** Memoized per-(session, corpus) vocab: one distributed counting
    * pass, ≤[[lmVocabSize]] collected rows.
    */
  private def lmVocab(s: org.apache.spark.sql.SparkSession,
                      d: String): Seq[String] =
    SharedFrames.value(s, s"lm_vocab:$d") {
      Tables.documents(s, d)
        .withColumn("tok", tokens(col("text")))
        .filter(size(col("tok")) >= 2)
        .select(explode(col("tok")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc)
        .limit(lmVocabSize)
        .collect().map(_.getString(0)).toSeq
    }

  /** Memoized quantized LM table (term → lp DECIMAL(18,6)): bigram
    * counts joined to their context totals, add-one smoothed over the
    * mapped vocab, log2'd ONCE here (engines must not both compute
    * logs — binary64 log + round-to-decimal can differ in the last
    * digit; the oracle reads the quantized table instead). Vocab rows
    * ride along (kind 'v') so the oracle replays the SAME token
    * mapping. PURE — the oracle-replay publish is [[prepareLm]].
    */
  private def lmTable(s: org.apache.spark.sql.SparkSession,
                      d: String): DataFrame =
    SharedFrames.frame(s, s"lm_bigram:$d") {
      val docs = Tables.documents(s, d)
      val vocab = lmVocab(s, d)
      val vsz = vocab.size + 1 // + <unk>
      val bi = lmPairs(docs, vocab)
        .groupBy("gram").agg(count(lit(1)).as("c"))
        .withColumn("u", substring_index(col("gram"), " ", 1))
      val ctx = bi.groupBy("u").agg(sum(col("c")).as("n"))
      val lp = bi.join(ctx, "u")
        .select(col("gram").as("term"),
          (log((col("c") + 1).cast(DoubleType) /
            (col("n") + vsz).cast(DoubleType)) / math.log(2.0))
            .cast(DecimalType(18, 6)).as("lp"),
          lit("b").as("kind"))
      val vdf = {
        import s.implicits._
        vocab.toDF("term")
          .select(col("term"), lit(null).cast(DecimalType(18, 6)).as("lp"),
            lit("v").as("kind"))
      }
      lp.unionByName(vdf).localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Prepare hook: publish the quantized LM table for the DuckDB
    * replay of q_doc_lm_perplexity.
    */
  private[graft] def prepareLm(s: org.apache.spark.sql.SparkSession,
                               d: String): Unit =
    OracleAux.prepareOnce(s, lmAuxDir, d) {
      OracleAux.write(lmTable(s, d), lmAuxDir,
        docsKey(Tables.documents(s, d)))
    }

  /** LM PERPLEXITY filter (CCNet, Wenzek et al. 2020): score every
    * document by per-token cross-entropy under a corpus-trained
    * add-one-smoothed bigram LM over the capped vocab, then cut the
    * corpus into the paper's head/middle/tail perplexity terciles
    * (head = most fluent). The stage that follows the heuristic cuts
    * and precedes model-based selection in a production pipeline;
    * distinct from q_doc_unigram_surprisal (orderless unigram bits)
    * because the bigram conditioning is what catches fluent-word
    * gibberish. ORACLE REPLAY: DuckDB reads the quantized lp table +
    * vocab rows, rebuilds the identical mapped-bigram multiset, and
    * replays count → decimal Σ lp·c → IEEE divide → NTILE
    * bit-identically. Train corpus = score corpus, so every scored
    * bigram is in the table (inner join, no backoff row needed);
    * scoring NEW docs against a trained table adds the standard
    * per-context backoff, which this catalog entry does not exercise.
    *
    * Scale shape: training is two map-side-combining counting passes
    * (vocab, bigrams); scoring explodes mapped bigrams, pre-aggregates
    * per (doc, gram) map-side, broadcast-joins the model table, and
    * re-aggregates per doc — same plan class as q_doc_quality_model.
    * The tercile is EXACT NTILE(3) semantics computed without a
    * single-partition window: two-phase global rank over a quantized
    * lm_bits bucketing (the same prefix-sum machinery as the shard
    * packer and q_doc_token_budget_select), then the NTILE cut
    * arithmetic on the exact rank — so the op survives corpus-scale
    * doc counts as-is. (CCNet's production shape — sampled cutoffs
    * broadcast as constants — remains the cheaper approximation if
    * exactness is ever relaxed.)
    */
  val qLmPerplexity: Q = Q.sql(
    "q_doc_lm_perplexity",
    s"""WITH aux AS (
       |  SELECT kind, term, lp FROM read_parquet('$lmAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |v AS (SELECT list(term ORDER BY term) AS vl FROM aux WHERE kind = 'v'),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    list_transform(tok, x -> CASE WHEN list_contains(v.vl, x)
       |      THEN x ELSE '$lmUnk' END) AS tok
       |  FROM t CROSS JOIN v WHERE len(tok) >= 2),
       |g AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])
       |      AS grams
       |  FROM m),
       |c AS (
       |  SELECT doc_id, gram, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
       |  GROUP BY doc_id, gram),
       |sc AS (
       |  SELECT c.doc_id, SUM(a.lp * c.c) AS s, CAST(SUM(c.c) AS BIGINT) AS np
       |  FROM c JOIN aux a ON a.kind = 'b' AND a.term = c.gram
       |  GROUP BY c.doc_id),
       |e AS (
       |  SELECT doc_id, np + 1 AS n_tokens, CAST(-s AS DOUBLE) / np AS lm_bits
       |  FROM sc)
       |SELECT doc_id, n_tokens, lm_bits,
       |  CASE NTILE(3) OVER (ORDER BY lm_bits ASC, doc_id ASC)
       |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |FROM e
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    import s.implicits._
    val vocab = lmVocab(s, d)
    val lp = lmTable(s, d).filter(col("kind") === "b").select("term", "lp")
    val scored0 = lmPairs(Tables.documents(s, d), vocab)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .join(broadcast(lp), col("term") === col("gram"))
      .groupBy("doc_id")
      .agg(sum(col("lp") * col("c")).as("s"),
        sum(col("c")).cast(LongType).as("np"))
      .select(col("doc_id"), (col("np") + 1).as("n_tokens"),
        (negate(col("s")).cast(DoubleType) / col("np")).as("lm_bits"))
    val scored =
      if (scored0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        scored0.cache()
      else scored0
    // exact NTILE(3) without a single-partition window: global rank by
    // (lm_bits, doc_id) via the two-phase prefix pattern — bucket on a
    // 1/16-bit quantization of lm_bits (a PREFIX of the sort key, so
    // (bucket, lm_bits, doc_id) order IS the global order), per-bucket
    // counts to a bounded driver prefix, per-bucket row_number +
    // broadcast offsets, then the standard NTILE cut arithmetic on the
    // exact rank. Replaces the documented single-partition tercile —
    // the same rank machinery as q_doc_token_budget_select.
    val bucketed = scored.withColumn("__b",
      floor(col("lm_bits") * 16).cast(LongType))
    val sums = bucketed.groupBy("__b").agg(count(lit(1)).as("bn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = sums.map(_._2).sum
    var acc = 0L
    val offsets = sums.map { case (b, bn) => val o = acc; acc += bn; (b, o) }
    val (q3, r3) = (total / 3, total % 3)
    val cut1 = q3 + (if (r3 >= 1) 1L else 0L)
    val cut2 = cut1 + q3 + (if (r3 >= 2) 1L else 0L)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(col("lm_bits").asc, col("doc_id").asc)
    bucketed.join(broadcast(offsets.toSeq.toDF("__b", "__offset")), "__b")
      .withColumn("__rn", row_number().over(wB) + col("__offset"))
      .withColumn("ppl_bucket",
        when(col("__rn") <= cut1, "head")
          .when(col("__rn") <= cut2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("n_tokens"), col("lm_bits"), col("ppl_bucket"))
      .orderBy(col("doc_id").asc)
  }.preparedBy(prepareLm)

  private[graft] val bm25AuxDir = s"${OracleAux.root}/bm25_idf"

  /** BM25 query set: the first [[bm25QueryDocs]] documents stand in
    * for a benchmark/eval query log; each query is the DISTINCT set of
    * its first [[bm25QueryLen]] tokens. Top-[[bm25TopK]] per query.
    */
  val bm25QueryDocs = 5
  val bm25QueryLen = 8
  val bm25TopK = 10
  /** Hard negatives per query in q_doc_retrieval_triplets. */
  val bm25TripletNegs = 3

  /** Robertson–Spärck Jones IDF per query term, ln((N−df+0.5)/(df+0.5)+1),
    * computed ONCE engine-side and quantized to DECIMAL(18,6) (engines
    * must not both take logs — same contract as the LM table); ≤
    * queryDocs·queryLen rows, aux-written for oracle replay. Every
    * query term has df ≥ 1 by construction (queries are corpus docs).
    */
  private def bm25Idf(s: org.apache.spark.sql.SparkSession,
                      d: String): Seq[(String, java.math.BigDecimal)] =
    SharedFrames.value(s, s"bm25_idf:$d") {
      val docs = Tables.documents(s, d)
      val n = docs.count().toDouble
      val qterms = docs.filter(col("doc_id") < bm25QueryDocs)
        .select(explode(slice(tokens(col("text")), 1, bm25QueryLen)).as("term"))
        .distinct()
      val dfRows = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .distinct()
        .join(broadcast(qterms), "term")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect()
      val idf = dfRows.map { r =>
        val dfv = r.getLong(1).toDouble
        (r.getString(0), java.math.BigDecimal.valueOf(
          math.log((n - dfv + 0.5) / (dfv + 0.5) + 1.0))
          .setScale(6, java.math.RoundingMode.HALF_UP))
      }.sortBy(_._1).toSeq
      idf
    }

  /** Prepare hook: publish the quantized IDF table for the DuckDB
    * replay of q_doc_bm25.
    */
  private def prepareBm25(s: org.apache.spark.sql.SparkSession,
                          d: String): Unit =
    OracleAux.prepareOnce(s, bm25AuxDir, d) {
      val idf = bm25Idf(s, d)
      val df = s.createDataFrame(
        java.util.Arrays.asList(
          idf.map { case (t, v) => org.apache.spark.sql.Row(t, v) }: _*),
        StructType(Seq(
          StructField("term", StringType, nullable = false),
          StructField("idf", DecimalType(18, 6), nullable = false))))
      OracleAux.write(df, bm25AuxDir, docsKey(Tables.documents(s, d)))
    }

  /** BM25 top-k retrieval (Robertson et al., Okapi): rank every corpus
    * document against each query by Σ over matched terms of
    * idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), k1=1.2, b=0.75 — the
    * retrieval stage a training-data pipeline runs for
    * decontamination candidate lookup and eval-set attribution.
    * DETERMINISM: idf is quantized engine-side (aux replay); the
    * saturation fraction is INTEGERIZED — multiplying through by 10·S
    * (S = Σdl, N = doc count) turns tf·2.2/(tf+1.2·(0.25+0.75·dl·N/S))
    * into (22·S·tf)/(10·S·tf + 3·S + 9·N·dl), exact int64 on both
    * engines — so each term score is ONE double multiply and ONE
    * divide (both correctly rounded; no a·b+c pattern a C++ build can
    * contract to FMA — mirroring the float expression op-for-op was
    * measurably 1-ULP off because DuckDB fuses where the JVM cannot);
    * and the per-document Σ is an ORDER-PINNED left fold over
    * term-ascending scores (a plain SUM over doubles would be
    * partition-order-dependent). Ties → doc_id. The int64 products
    * bound S·tf to ~4·10^17; past that (extreme corpora) the same
    * expressions go DECIMAL(38,0) unchanged.
    *
    * Scale shape: the ≤40-row query-term set broadcasts into the
    * (doc, term) tf aggregate — only matching postings survive the
    * shuffle (inverted-index selectivity: scored rows ∝ matches, not
    * corpus); dl rides a doc-keyed join; the rank window partitions
    * by query id (parallel across queries, top-k within); avgdl is
    * one scalar aggregate broadcast as a literal. No global sort
    * until the final catalog ORDER BY.
    */
  /** The full BM25 ranking CTE chain (ends at `r(qid, rnk, doc_id,
    * n_match, bm25)`, no rank cut) — shared by q_doc_bm25's oracle and
    * the retrieval-triplet oracle.
    */
  private def bm25RankedSql: String =
    s"""WITH idf AS (
       |  SELECT term, idf FROM read_parquet('$bm25AuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM t),
       |a AS (SELECT CAST(SUM(dl) AS BIGINT) AS s,
       |             CAST(COUNT(*) AS BIGINT) AS n FROM dl),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(tok) AS term FROM t)
       |  GROUP BY doc_id, term),
       |q AS (
       |  SELECT DISTINCT doc_id AS qid, term
       |  FROM (SELECT doc_id, unnest(tok[1:$bm25QueryLen]) AS term
       |        FROM t WHERE doc_id < $bm25QueryDocs)),
       |sc AS (
       |  SELECT q.qid, tf.doc_id, q.term,
       |    (CAST(i.idf AS DOUBLE) * CAST(22 * a.s * tf.tf AS DOUBLE)) /
       |      CAST(10 * a.s * tf.tf + 3 * a.s + 9 * a.n * dl.dl AS DOUBLE) AS sc
       |  FROM tf
       |  JOIN q ON q.term = tf.term
       |  JOIN idf i ON i.term = tf.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN a),
       |g AS (
       |  SELECT qid, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(sc ORDER BY term ASC)), (x, y) -> x + y) AS bm25,
       |    CAST(COUNT(*) AS BIGINT) AS n_match
       |  FROM sc GROUP BY qid, doc_id),
       |r AS (
       |  SELECT qid, CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rnk,
       |    doc_id, n_match, bm25
       |  FROM g)""".stripMargin

  /** The memoized Spark side of [[bm25RankedSql]]: every (query,
    * matching doc) scored and rank-numbered, checkpointed once per
    * (session, corpus) — q_doc_bm25 cuts it at top-k, the retrieval
    * triplets split it gold-vs-negatives; the postings join runs once.
    */
  private def bm25Ranked(s: org.apache.spark.sql.SparkSession,
                         d: String): DataFrame =
    SharedFrames.frame(s, s"bm25_ranked:$d") {
      bm25RankedRaw(s, d).localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** The un-checkpointed ranked pipeline — split out so PlanAuditSpec
    * can pin the BUILD plan (broadcasts, window partitioning) that the
    * memo otherwise hides behind an ExistingRDD scan. The query-term
    * and idf joins route through
    * [[graft.plans.AdaptiveSmallSide.join]]: derived query sets at or
    * under the knob broadcast (every gate SF — the prose claim "the
    * query set is small" is now a measured decision), a corpus-scale
    * query log automatically falls back to the partitioned join.
    * `maxBroadcastRows` is parameterized so AdaptiveSmallSideSpec can
    * force each arm on the same corpus and prove them
    * result-identical.
    */
  private[graft] def bm25RankedRaw(s: org.apache.spark.sql.SparkSession,
                                   d: String,
                                   maxBroadcastRows: Long =
                                     graft.plans.AdaptiveSmallSide.maxBroadcastRows): DataFrame = {
      val idf = bm25Idf(s, d)
      val idfDf = {
        import s.implicits._
        idf.map { case (t, v) => (t, scala.math.BigDecimal(v)) }
          .toDF("term", "idf")
          .select(col("term"), col("idf").cast(DecimalType(18, 6)).as("idf"))
      }
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), tokens(col("text")).as("tok"))
      val dl = toks.select(col("doc_id"), size(col("tok")).cast(LongType).as("dl"))
      val st = dl.agg(sum(col("dl")), count(lit(1))).head()
      val s0 = st.getLong(0)
      val n0 = st.getLong(1)
      val tf = toks.select(col("doc_id"), explode(col("tok")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val qt = docs.filter(col("doc_id") < bm25QueryDocs)
        .select(col("doc_id").as("qid"),
          explode(slice(tokens(col("text")), 1, bm25QueryLen)).as("term"))
        .distinct()
      val sc = (col("idf").cast(DoubleType) *
        (lit(22L * s0) * col("tf")).cast(DoubleType)) /
        (lit(10L * s0) * col("tf") + lit(3L * s0) + lit(9L * n0) * col("dl"))
          .cast(DoubleType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("bm25").desc, col("doc_id").asc)
      graft.plans.AdaptiveSmallSide.join(
          graft.plans.AdaptiveSmallSide.join(tf, qt, Seq("term"),
            maxRows = maxBroadcastRows),
          idfDf, Seq("term"), maxRows = maxBroadcastRows)
        .join(dl, "doc_id")
        .select(col("qid"), col("doc_id"), col("term"), sc.as("sc"))
        .groupBy("qid", "doc_id")
        .agg(
          aggregate(
            sort_array(collect_list(struct(col("term"), col("sc")))),
            lit(0.0), (acc, x) => acc + x.getField("sc")).as("bm25"),
          count(lit(1)).cast(LongType).as("n_match"))
        .withColumn("rnk", row_number().over(w).cast(IntegerType))
  }

  val qBm25: Q = Q.sql(
    "q_doc_bm25",
    s"""$bm25RankedSql
       |SELECT qid, rnk, doc_id, n_match, bm25 FROM r
       |WHERE rnk <= $bm25TopK
       |ORDER BY qid ASC, rnk ASC""".stripMargin) { (s, d) =>
    bm25Ranked(s, d)
      .filter(col("rnk") <= bm25TopK)
      .select(col("qid"), col("rnk"), col("doc_id"), col("n_match"), col("bm25"))
      .orderBy(col("qid").asc, col("rnk").asc)
  }.preparedBy(prepareBm25)

  /** RETRIEVAL TRAINING TRIPLETS — the DPR recipe (Karpukhin et al.
    * EMNLP 2020): for each query, the gold passage plus the top
    * BM25-ranked passages that are NOT the gold — lexically close
    * enough to fool a sparse retriever, which is exactly what makes
    * them hard negatives for training a dense one. Queries here are
    * the engine's standing BM25 query set (doc-prefix queries), gold =
    * the source document; margin = gold score − negative score, an
    * IEEE subtraction of two already-exact scores. Queries whose gold
    * falls outside the match set (pathological) drop via the inner
    * join rather than emitting a false positive.
    *
    * Scale shape: both sides are label-sized slices of the ONE
    * memoized ranked table (the postings join never re-runs); the
    * negative re-rank window rides the same qid partitioning.
    */
  val qRetrievalTriplets: Q = Q.sql(
    "q_doc_retrieval_triplets",
    s"""$bm25RankedSql,
       |pos AS (
       |  SELECT qid, doc_id AS pos_doc_id, bm25 AS pos_bm25
       |  FROM r WHERE doc_id = qid),
       |neg AS (
       |  SELECT qid, doc_id, bm25,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY bm25 DESC, doc_id ASC) AS INT) AS neg_rank
       |  FROM r WHERE doc_id <> qid)
       |SELECT p.qid AS qid, p.pos_doc_id, p.pos_bm25,
       |  n.doc_id AS neg_doc_id, n.bm25 AS neg_bm25, n.neg_rank,
       |  p.pos_bm25 - n.bm25 AS margin
       |FROM pos p JOIN neg n ON p.qid = n.qid
       |WHERE n.neg_rank <= $bm25TripletNegs
       |ORDER BY qid ASC, neg_rank ASC""".stripMargin) { (s, d) =>
    val ranked = bm25Ranked(s, d)
    val pos = ranked.filter(col("doc_id") === col("qid"))
      .select(col("qid"), col("doc_id").as("pos_doc_id"),
        col("bm25").as("pos_bm25"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("bm25").desc, col("doc_id").asc)
    val neg = ranked.filter(col("doc_id") =!= col("qid"))
      .withColumn("neg_rank", row_number().over(wNeg).cast(IntegerType))
      .filter(col("neg_rank") <= bm25TripletNegs)
      .select(col("qid"), col("doc_id").as("neg_doc_id"),
        col("bm25").as("neg_bm25"), col("neg_rank"))
    pos.join(neg, "qid")
      .select(col("qid"), col("pos_doc_id"), col("pos_bm25"),
        col("neg_doc_id"), col("neg_bm25"), col("neg_rank"),
        (col("pos_bm25") - col("neg_bm25")).as("margin"))
      .orderBy(col("qid").asc, col("neg_rank").asc)
  }.preparedBy(prepareBm25)

  // -------------------------------------------------------------------
  // Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005)
  // -------------------------------------------------------------------

  val cmsDepth = 4
  /** Hex chars of the salted md5 prefix → 16^len buckets per row. */
  val cmsPrefixLen = 3
  /** Survivor threshold = ⌈total gram occurrences / divisor⌉. */
  val cmsThresholdDivisor = 1000L

  private def cmsBucket(r: Int, gram: org.apache.spark.sql.Column,
                        prefixLen: Int): org.apache.spark.sql.Column =
    substring(md5(concat(lit(s"$r:"), gram)), 1, prefixLen)

  /** Adjacent-bigram stream of a token array — the same slice/zip_with
    * shape as dsirGrams' bigram half, so the oracle's
    * `tok[i] || ' ' || tok[i+1]` multiset matches exactly.
    */
  private def bigramCol(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(
      slice(tok, lit(1), size(tok) - 1),
      slice(tok, lit(2), size(tok) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** The CMS heavy-hitter kernel over any (doc_id, text) frame,
    * parameterized so the spec can force collisions with a tiny width.
    *
    * Pass 1 (sketch): every bigram occurrence increments `depth`
    * salted-hash cells; the groupBy materializes only NONEMPTY cells
    * (≤ depth·16^prefixLen rows — a fixed-size, mergeable sketch) and
    * collects them to the driver: the CMS is the bounded summary that
    * replaces a corpus-cardinality exact count.
    *
    * Pass 2 (filter + exact): each occurrence's estimate
    * (min over rows of its cell count, the CMS point query) evaluates
    * IN THE SCAN — no join — and only occurrences of candidate-heavy
    * grams (est ≥ threshold; CMS guarantees NO FALSE NEGATIVES) reach
    * the exact groupBy, so the exact-count shuffle is ∝ heavy
    * occurrences, not corpus grams. The point query is an O(1)
    * broadcast-hash-map UDF lookup: the literal-map alternative
    * (`element_at` over a 16^prefixLen-entry `map_from_arrays`) is an
    * O(width) LINEAR SCAN per lookup inside ArrayBasedMapData —
    * measured 8.0 s vs 0.9 s at sf0.1, the same literal-scan trap the
    * LM vocab mapping hit at sf1.
    */
  /** Pass 1: build the (r:b → count) cell map — the bounded, mergeable
    * sketch that replaces a corpus-cardinality exact count (≤
    * depth·16^prefixLen nonempty cells collected).
    */
  def cmsSketch(docs: DataFrame, depth: Int,
                prefixLen: Int): Map[String, Long] = {
    val tok = tokens(col("text"))
    docs.filter(size(tok) >= 2)
      .select(explode(bigramCol(tok)).as("gram"))
      .select(posexplode(array((0 until depth).map(r =>
        cmsBucket(r, col("gram"), prefixLen)): _*)).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
      .collect().map(row => s"${row.getInt(0)}:${row.getString(1)}" -> row.getLong(2))
      .toMap
  }

  /** Pass 2 over a prebuilt sketch (the catalog entry memoizes the
    * sketch per (session, corpus) — a per-corpus trained artifact like
    * the LM/quality tables, so repeat invocations pay only this pass).
    */
  def cmsTopGramsWith(docs: DataFrame, sketch: Map[String, Long],
                      depth: Int, prefixLen: Int,
                      divisor: Long): DataFrame = {
    val tok = tokens(col("text"))
    val occ = docs.filter(size(tok) >= 2)
      .select(explode(bigramCol(tok)).as("gram"))
    // total stream mass = sum of any one row's cells (row 0)
    val n = sketch.collect { case (k, c) if k.startsWith("0:") => c }.sum
    val threshold = (n + divisor - 1) / divisor
    // flat-array point query: the string-keyed Map lookup allocated a
    // "r:" + 3-hex-char key (plus a StringBuilder and a MessageDigest
    // instance) PER OCCURRENCE PER ROW of the sketch — at sf10 the GC
    // churn of ~4e8 such lookups on 32 threads bent the per-decade
    // exponent to 1.48. The sketch re-keys once on the driver to
    // cells[r * 16^prefixLen + bucket] (bucket = the same first
    // prefixLen nibbles of md5("r:gram") the hex prefix spells), and
    // the per-row loop is digest + mask + array read: zero allocation
    // beyond the digest itself, MessageDigest reused per thread.
    val width = 1 << (4 * prefixLen)
    val cells = new Array[Long](depth * width)
    sketch.foreach { case (k, c) =>
      val sep = k.indexOf(':')
      val r = k.substring(0, sep).toInt
      var b = 0
      var i = sep + 1
      while (i < k.length) {
        b = (b << 4) | Character.digit(k.charAt(i), 16); i += 1
      }
      cells(r * width + b) = c
    }
    val bc = docs.sparkSession.sparkContext.broadcast(cells)
    val estUdf = udf { gram: String =>
      // same salted-md5-prefix bucket as cmsBucket / the oracle:
      // first prefixLen nibbles of md5(UTF-8("r:gram"))
      val md = CmsMd5.get()
      val arr = bc.value
      var est = Long.MaxValue
      var r = 0
      while (r < depth) {
        md.reset()
        val h = md.digest(
          (r + ":" + gram).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var b = 0
        var i = 0
        while (i < prefixLen) {
          val nib = if (i % 2 == 0) (h(i / 2) & 0xff) >> 4 else h(i / 2) & 0xf
          b = (b << 4) | nib
          i += 1
        }
        val c = arr(r * width + b)
        if (c < est) est = c
        r += 1
      }
      est
    }
    occ.withColumn("est", estUdf(col("gram")))
      .filter(col("est") >= threshold)
      .groupBy("gram").agg(min(col("est")).as("est"), count(lit(1)).as("n"))
      .select(col("gram"), col("est"), col("n"))
      .orderBy(col("n").desc, col("gram").asc)
  }

  /** Heavy-hitter bigrams via count-min sketch: the bounded-memory
    * frequent-pattern scan a 100 TB pipeline runs where an exact
    * gram count would shuffle billions of keys (boilerplate detection,
    * stop-phrase mining, dedup-candidate seeding). Survivors are the
    * grams whose CMS estimate clears ⌈N/$cmsThresholdDivisor⌉;
    * output carries the (over-)estimate next to the exact count so the
    * false-positive margin is visible. ORACLE REPLAY: the salted-md5
    * cells, the min-of-rows point query, and the integer threshold are
    * all relational — DuckDB rebuilds the identical sketch (no aux
    * table needed).
    */
  val qCmsTopGrams: Q = Q.sql(
    "q_doc_cms_topgrams",
    s"""WITH t AS (
       |  SELECT regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok
       |  FROM documents),
       |occ AS (
       |  SELECT tok[u.i] || ' ' || tok[u.i+1] AS gram
       |  FROM t, unnest(range(1, len(tok))) AS u(i)
       |  WHERE len(tok) >= 2),
       |nt AS (SELECT COUNT(*) AS n FROM occ),
       |cells AS (
       |  SELECT r.r, substring(md5(CAST(r.r AS VARCHAR) || ':' || gram), 1, $cmsPrefixLen) AS b,
       |    COUNT(*) AS c
       |  FROM occ CROSS JOIN range(0, $cmsDepth) r(r)
       |  GROUP BY 1, 2),
       |g AS (SELECT gram, COUNT(*) AS n FROM occ GROUP BY gram),
       |est AS (
       |  SELECT g.gram, g.n, MIN(c.c) AS est
       |  FROM g CROSS JOIN range(0, $cmsDepth) r(r)
       |  JOIN cells c ON c.r = r.r
       |    AND c.b = substring(md5(CAST(r.r AS VARCHAR) || ':' || g.gram), 1, $cmsPrefixLen)
       |  GROUP BY g.gram, g.n)
       |SELECT est.gram, est.est, est.n
       |FROM est, nt
       |WHERE est.est >= (nt.n + ${cmsThresholdDivisor - 1}) // $cmsThresholdDivisor
       |ORDER BY est.n DESC, est.gram ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sketch = SharedFrames.value(s, s"cms_sketch:$d") {
      cmsSketch(docs, cmsDepth, cmsPrefixLen)
    }
    cmsTopGramsWith(docs, sketch, cmsDepth, cmsPrefixLen,
      cmsThresholdDivisor)
  }

  // -------------------------------------------------------------------
  // Gopher quality rules (Rae et al. 2021, §A1.1)
  // -------------------------------------------------------------------

  /** Gopher's "must contain ≥2 of these 8 words" stopword rule — the
    * paper's fixed list, not the engine's longer scoring list.
    */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val gopherMinWords = 50L
  private val gopherMaxWords = 100000L

  /** The GOPHER RULE FILTER (Rae et al. 2021) — the published
    * heuristic gate most production text pipelines run before any
    * model-based scoring: per document, every rule's measured value
    * and bit, plus the conjunction `keep`. Rules: word count in
    * [50, 100k]; mean word length in [3, 10]; ≤10% of words contain
    * '#' or '...'; <90% of lines start with a bullet; <30% of lines
    * end with an ellipsis; ≥80% of words contain an alphabetic
    * character; ≥2 of Gopher's 8 stopwords present.
    *
    * DETERMINISM: every ratio is an IEEE divide of exact integer
    * counts (both engines produce bit-identical doubles); the word
    * multiset is the shared tokens() contract; lines split on
    * '\n' of the RAW text.
    *
    * Scale shape: one projection — per-row array math in the scan, no
    * shuffle but the output sort. The 100 TB form is identical.
    */
  val qGopherRules: Q = Q.sql(
    "q_doc_gopher_rules",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS tok,
       |    string_split(text, chr(10)) AS ln
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(tok) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_transform(tok, w -> CAST(len(w) AS BIGINT)),
       |      (a, b) -> a + b) AS DOUBLE) / len(tok) AS mean_word_len,
       |    CAST(len(list_filter(tok, w ->
       |      contains(w, '#') OR contains(w, '...'))) AS DOUBLE)
       |      / len(tok) AS symbol_frac,
       |    CAST(len(list_filter(ln, l ->
       |      starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
       |      AS DOUBLE) / len(ln) AS bullet_frac,
       |    CAST(len(list_filter(ln, l ->
       |      ends_with(trim(l), '...'))) AS DOUBLE) / len(ln) AS ellipsis_frac,
       |    CAST(len(list_filter(tok, w -> regexp_matches(w, '[a-z]')))
       |      AS DOUBLE) / len(tok) AS alpha_frac,
       |    CAST(len(list_filter(
       |      [${gopherStops.map("'" + _ + "'").mkString(",")}],
       |      sw -> list_contains(tok, sw))) AS BIGINT) AS stop_hits
       |  FROM t WHERE len(tok) >= 1)
       |SELECT doc_id, n_words, mean_word_len, symbol_frac, bullet_frac,
       |  ellipsis_frac, alpha_frac, stop_hits,
       |  (n_words BETWEEN $gopherMinWords AND $gopherMaxWords
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_frac <= 0.1
       |    AND bullet_frac < 0.9
       |    AND ellipsis_frac < 0.3
       |    AND alpha_frac >= 0.8
       |    AND stop_hits >= 2) AS keep
       |FROM m
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val toks = tokens(col("text"))
    val lns = split(col("text"), "\n", -1)
    val nWords = size(toks).cast(LongType)
    val meanLen = aggregate(transform(toks, w => length(w).cast(LongType)),
      lit(0L), (a, x) => a + x).cast(DoubleType) / size(toks)
    val symbolFrac = size(filter(toks,
      w => w.contains("#") || w.contains("..."))).cast(DoubleType) / size(toks)
    val bulletFrac = size(filter(lns, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*")))
      .cast(DoubleType) / size(lns)
    val ellipsisFrac = size(filter(lns, l => trim(l).endsWith("...")))
      .cast(DoubleType) / size(lns)
    val alphaFrac = size(filter(toks, w => w.rlike("[a-z]")))
      .cast(DoubleType) / size(toks)
    val stopHits = size(filter(typedLit(gopherStops),
      sw => array_contains(toks, sw))).cast(LongType)
    Tables.documents(s, d)
      .filter(size(tokens(col("text"))) >= 1)
      .select(col("doc_id"), nWords.as("n_words"),
        meanLen.as("mean_word_len"), symbolFrac.as("symbol_frac"),
        bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"), stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(gopherMinWords, gopherMaxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_frac") <= 0.1 &&
          col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 &&
          col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 2)
      .orderBy(col("doc_id").asc)
  }

  /** SOFT dedup — reweight duplicates instead of dropping them (the
    * SoftDeDup idea, He et al. ACL 2024: sampling weight inversely
    * proportional to data commonness; here commonness is the
    * exact-duplicate multiplicity of the document's content hash, the
    * relational core of the recipe). Every copy survives with weight
    * 1/n_copies, so a cluster of n identical documents contributes
    * exactly one document's worth of expected training mass while
    * preserving the corpus distribution's support — the middle ground
    * between q_doc_exact_dedup (hard drop) and no dedup.
    *
    * Determinism: 1/n and n_chars/n are single IEEE double divisions
    * of exactly-representable integers — bit-identical in any engine.
    *
    * Scale shape: one hash groupBy (16-byte keys, map-side combined)
    * and a join back on the hash carrying only (doc_id, n_chars) —
    * document text never shuffles. At 100 TB this is the exact-dedup
    * pass with the DROP swapped for a weight column.
    */
  val qSoftDedup: Q = Q.sql(
    "q_doc_softdedup",
    """WITH c AS (
      |  SELECT md5(text) AS h, COUNT(*) AS n_copies
      |  FROM documents GROUP BY md5(text))
      |SELECT d.doc_id, c.n_copies,
      |  1.0 / CAST(c.n_copies AS DOUBLE) AS weight,
      |  CAST(d.n_chars AS DOUBLE) / CAST(c.n_copies AS DOUBLE) AS eff_chars
      |FROM documents d JOIN c ON md5(d.text) = c.h
      |ORDER BY d.doc_id ASC""".stripMargin) { (s, d) =>
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(col("text").cast(BinaryType)).as("h"))
    val counts = hashed.groupBy("h").agg(count(lit(1)).as("n_copies"))
    hashed.join(counts, "h")
      .select(col("doc_id"), col("n_copies"),
        (lit(1.0) / col("n_copies").cast(DoubleType)).as("weight"),
        (col("n_chars").cast(DoubleType) / col("n_copies").cast(DoubleType))
          .as("eff_chars"))
      .orderBy(col("doc_id").asc)
  }

  /** Edit-distance near-dup rerank: MinHash-LSH band collisions
    * generate candidates (the SAME memoized band table as
    * q_doc_minhash_lsh — zero extra signature work per session), then
    * pairs are verified by Levenshtein distance over a bounded
    * 256-char prefix. The prefix bound is the scale contract: exact
    * edit distance is O(len_a · len_b) per pair, unbounded document
    * length would make a single adversarial pair arbitrarily
    * expensive, and for near-duplicate detection the prefix is the
    * standard surrogate (a true near-dup pair disagrees in few edits
    * everywhere, including its head). Distance threshold 64 ≈ 25% of
    * the window.
    *
    * ORACLE REPLAY: DuckDB reads the published band table, replays
    * candidate generation and pair dedup, and computes levenshtein()
    * independently — both engines implement plain codepoint-level
    * Levenshtein, so the distances (and the filter) hash-match.
    *
    * Scale shape: candidates are band-bucket joins (keys only); the
    * text join that follows carries 256-char prefixes for candidate
    * PAIRS only — bounded payload on a bounded pair set, never a
    * corpus-wide text shuffle. MEGA-BUCKET GUARD (the band analogue
    * of [[maxShingleDf]], shared with the kNN family —
    * [[SimilarityQ.maxBandBucket]]), CLIQUE + STAR form: pairs are
    * the full clique among each bucket's cap lowest doc_ids PLUS one
    * star edge from the bucket head (lowest doc_id) to every
    * over-cap member. A duplicate-heavy bucket therefore costs
    * C(cap,2) + (bucket − cap) Levenshtein evaluations — LINEAR in
    * bucket size past the cap, where the round-7 one-side cap was
    * still bucket × cap (63.5 s at 10× duplication, BENCH_NOTES) —
    * and every member, capped or not, still links to the cluster
    * head, so dup CLUSTERS remain fully detected. What over-cap
    * buckets lose vs the uncapped clique is only the mid↔over-cap
    * pair edges (members there are near-identical by construction);
    * buckets under the cap are byte-identical to the uncapped join;
    * truncation logs a disclosed-loss line. Pinned by
    * EditDistNearDupSpec on a corpus where the cap BINDS.
    */
  val qEditDistNearDup: Q = Q.sql(
    "q_doc_editdist_neardup",
    s"""WITH banded AS (
       |  SELECT doc_id, band, bh
       |  FROM read_parquet('$minhashBandsAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |pos AS (
       |  SELECT doc_id, band, bh,
       |    ROW_NUMBER() OVER (PARTITION BY band, bh ORDER BY doc_id ASC)
       |      AS bpos
       |  FROM banded),
       |kept AS (SELECT doc_id, band, bh FROM pos
       |         WHERE bpos <= ${SimilarityQ.maxBandBucket}),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM kept a JOIN kept b
       |      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT h.doc_id AS doc_a, o.doc_id AS doc_b
       |    FROM (SELECT doc_id, band, bh FROM pos WHERE bpos = 1) h
       |    JOIN (SELECT doc_id, band, bh FROM pos
       |          WHERE bpos > ${SimilarityQ.maxBandBucket}) o
       |      ON h.band = o.band AND h.bh = o.bh)),
       |px AS (SELECT doc_id, substring(text, 1, 256) AS p FROM documents)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN px pa ON pa.doc_id = c.doc_a
       |JOIN px pb ON pb.doc_id = c.doc_b
       |WHERE levenshtein(pa.p, pb.p) <= 64
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    doc = "ORACLE REPLAY: engine-published MinHash band table (kernel " +
      "pinned by MinhashRecallSpec); DuckDB replays candidates + " +
      "independent Levenshtein rerank.") { (s, d) =>
    val banded = minhashBandedFrame(s, d)
    SimilarityQ.logBucketCapLoss(banded, Seq("band", "bh"),
      s"editdist neardup:$d",
      lossDesc = "reduced to a star link on the bucket head " +
        "(clique membership lost, cluster detection kept)")
    // mega-bucket guard, clique + star form (see doc): full clique
    // among each bucket's cap lowest ids, one star edge head→member
    // past the cap — C(cap,2) + (bucket − cap) pairs per bucket
    val wB = Window.partitionBy(col("band"), col("bh"))
      .orderBy(col("doc_id").asc)
    val pos = banded.withColumn("__bpos", row_number().over(wB))
    val kept = pos.filter(col("__bpos") <= SimilarityQ.maxBandBucket)
      .drop("__bpos")
    val clique = kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val star = pos.filter(col("__bpos") === 1).as("h")
      .join(pos.filter(col("__bpos") > SimilarityQ.maxBandBucket).as("o"),
        col("h.band") === col("o.band") && col("h.bh") === col("o.bh"))
      .select(col("h.doc_id").as("doc_a"), col("o.doc_id").as("doc_b"))
    val pairs = clique.unionByName(star).dropDuplicates("doc_a", "doc_b")
    val px = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 256).as("p"))
    pairs
      .join(px.select(col("doc_id").as("doc_a"), col("p").as("pa")), Seq("doc_a"))
      .join(px.select(col("doc_id").as("doc_b"), col("p").as("pb")), Seq("doc_b"))
      // DP cost control: exact copies (the dominant pair class in a
      // duplicate-heavy corpus) short-circuit to 0 at string-compare
      // cost, and the rest run Spark's THRESHOLDED Levenshtein — a
      // banded DP over the ±64 diagonal, O(len·threshold) not O(len²),
      // returning −1 above the threshold (exact below it, so values
      // are identical to the oracle's plain levenshtein + WHERE ≤ 64)
      .select(col("doc_a"), col("doc_b"),
        when(col("pa") === col("pb"), 0L)
          .otherwise(levenshtein(col("pa"), col("pb"), 64).cast(LongType))
          .as("edit_dist"))
      .filter(col("edit_dist").between(0, 64))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, minhashBandsAuxDir, d) {
      OracleAux.write(minhashBandedFrame(s, d), minhashBandsAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** INCREMENTAL near-dup — a new crawl batch against the EXISTING
    * corpus (the near-dup sibling of q_doc_incremental_dedup's exact
    * pass): batch docs whose MinHash bands collide with any corpus
    * doc's are candidates, candidates are verified by exact shingle
    * Jaccard ≥ 0.5, and the query returns the batch's SURVIVORS —
    * documents that are near-duplicates of nothing already kept. The
    * deterministic doc_id%3 split stands in for the batch boundary.
    *
    * Scale shape: candidates come from a keys-only (band, bh) join.
    * The Jaccard rerank joins shingles for candidate pairs only.
    *
    * ORACLE REPLAY: DuckDB reads the published band table, splits it
    * by the same %3 rule, and replays candidates, exact rerank, and
    * the anti-join from raw documents.
    */
  val qIncrementalNearDup: Q = Q.sql(
    "q_doc_incremental_neardup",
    s"""WITH banded AS (
       |  SELECT doc_id, band, bh
       |  FROM read_parquet('$minhashBandsAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh
       |   AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |shared AS (
       |  SELECT c.batch_doc, c.corpus_doc, COUNT(*) AS shr
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.batch_doc
       |  JOIN sh b ON b.doc_id = c.corpus_doc AND b.shingle = a.shingle
       |  GROUP BY c.batch_doc, c.corpus_doc),
       |hit AS (
       |  SELECT DISTINCT s.batch_doc
       |  FROM shared s
       |  JOIN sizes sa ON s.batch_doc = sa.doc_id
       |  JOIN sizes sb ON s.corpus_doc = sb.doc_id
       |  WHERE CAST(s.shr AS DOUBLE) / (sa.n + sb.n - s.shr) >= 0.5)
       |SELECT doc_id FROM documents
       |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT batch_doc FROM hit)
       |ORDER BY doc_id ASC""".stripMargin,
    doc = "ORACLE REPLAY: engine-published MinHash band table; DuckDB " +
      "replays the batch/corpus split, candidates, exact-Jaccard " +
      "rerank, and the survivor anti-join.") { (s, d) =>
    val banded = minhashBandedFrame(s, d)
    val sh = minhashShingles(s, d)
    val cand = banded.filter(col("doc_id") % 3 === 0).as("a")
      .join(banded.filter(col("doc_id") % 3 =!= 0).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("batch_doc"), col("b.doc_id").as("corpus_doc"))
      .dropDuplicates("batch_doc", "corpus_doc")
    val jac = size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
      size(array_union(col("sh_a"), col("sh_b")))
    val hit = cand
      .join(sh.select(col("doc_id").as("batch_doc"), col("sh").as("sh_a")),
        Seq("batch_doc"))
      .join(sh.select(col("doc_id").as("corpus_doc"), col("sh").as("sh_b")),
        Seq("corpus_doc"))
      .filter(jac >= 0.5)
      .select(col("batch_doc").as("doc_id"))
      .distinct()
    Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"))
      .join(hit, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, minhashBandsAuxDir, d) {
      OracleAux.write(minhashBandedFrame(s, d), minhashBandsAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** VOCABULARY coverage curve — the Zipf head-mass diagnostic every
    * tokenizer budget decision starts from: the minimal number of
    * distinct token types that covers ≥ 50 / 90 / 99 % of all token
    * occurrences when types rank by (count DESC, term ASC). A type is
    * in the p% head iff the mass STRICTLY BEFORE it is under the
    * threshold (so exactly the crossing type is included), tested in
    * exact integer arithmetic (cum·100 < total·pct — no ratios, no
    * rounding).
    *
    * Scale shape: term counts are one map-side-combined shuffle; the
    * global frequency rank is the two-phase prefix pattern with
    * bucket = BIT LENGTH of the count (length(bin(n)) — integer,
    * exactly monotone in n, so (bucket DESC, n DESC, term ASC) IS the
    * global order; ≤ 64 buckets ever, driver prefix is ≤ 64 rows).
    * The final rollup reduces to 3 rows.
    */
  val qVocabCoverage: Q = Q.sql(
    "q_doc_vocab_coverage",
    """WITH c AS (
      |  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS t
      |        FROM documents WHERE length(trim(text)) > 0)
      |  GROUP BY t),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c),
      |r AS (
      |  SELECT term, n,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY n DESC, term ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum
      |  FROM c)
      |SELECT p.pct, COUNT(*) AS n_types
      |FROM r CROSS JOIN tot
      |CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
      |WHERE r.cum * 100 < tot.tn * p.pct
      |GROUP BY p.pct
      |ORDER BY p.pct ASC""".stripMargin) { (s, d) =>
    import s.implicits._
    val counts0 = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val counts =
      if (counts0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        counts0.cache()
      else counts0
    val bucketed = counts.withColumn("__b", length(bin(col("n"))))
    val sums = bucketed.groupBy("__b").agg(sum("n").as("bsum"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    val total = sums.map(_._2).sum
    var acc = 0L
    val offsets = sums.map { case (b, bs) => val o = acc; acc += bs; (b, o) }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(col("n").desc, col("term").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed.join(broadcast(offsets.toSeq.toDF("__b", "__offset")), "__b")
      .withColumn("cum", sum(col("n")).over(w) + col("__offset") - col("n"))
      .crossJoin(broadcast(Seq(50, 90, 99).toDF("pct")))
      .filter(col("cum") * 100 < lit(total) * col("pct"))
      .groupBy("pct").agg(count(lit(1)).as("n_types"))
      .orderBy(col("pct").asc)
  }

  /** CROSS-SOURCE CONTENT-OVERLAP MATRIX — the contamination triage
    * that tells you WHICH source pairs share material (mirror sites,
    * syndicated feeds, scrape-of-a-scrape) before any pairwise doc
    * dedup runs: for every source pair, the number of distinct
    * 3-token shingles present in both, and the shingle-set Jaccard.
    * A high-overlap pair routes into the pairwise near-dup operators;
    * everything else skips them.
    *
    * Scale shape: the unit of work is the distinct (shingle-md5,
    * source) key stream — document text never leaves the scan.
    * Per-shingle source sets are bounded by #sources (thousands at
    * worst, vs billions of docs), pair expansion happens INSIDE the
    * aggregation scan (sorted-set combinations, codegen'd array
    * builtins), and the output is at most C(#sources, 2) rows with
    * map-side-combined counts. No all-pairs doc join anywhere.
    */
  val qSourceOverlap: Q = Q.sql(
    "q_doc_source_overlap",
    """WITH toks AS (
      |  SELECT source, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      |  FROM toks WHERE len(tk) >= 3),
      |sh AS (SELECT DISTINCT source, md5(g) AS gh FROM g),
      |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  CAST(p.n_shared AS DOUBLE) / (sa.n + sb.n - p.n_shared) AS jaccard
      |FROM p
      |JOIN sizes sa ON p.src_a = sa.source
      |JOIN sizes sb ON p.src_b = sb.source
      |ORDER BY src_a ASC, src_b ASC""".stripMargin) { (s, d) =>
    // The shingle key stays the RAW 3-token string: it is no wider
    // than a 32-hex md5 and costs zero digest CPU per corpus shingle
    // (the oracle's md5 is only DuckDB's spelling of "distinct by
    // content" — counts agree exactly, with no collision caveat at
    // all on this side). At 100 TB a 128-bit binary hash would cap the
    // key width; at every gate SF the string IS the narrow form.
    val sh = Tables.documents(s, d)
      .select(col("source"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("source"), explode(shingles(col("tk"), 3)).as("gh"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    // Pair expansion in the scan: sorted source set -> (a, b) combos with
    // a < b by construction (slice past a's position in the sorted array).
    val combos = sh.groupBy("gh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val jac = col("n_shared").cast(DoubleType) /
      (col("n_a") + col("n_b") - col("n_shared"))
    combos
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"), jac.as("jaccard"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** PER-SOURCE UNIGRAM KL DIVERGENCE to the corpus — the domain-shift
    * triage (which sources are distributionally far from the mixture
    * they'll be blended into): KL(P_src ‖ P_corpus) in the same
    * QUANTIZED integer bits as [[qUnigramSurprisal]] — per token type,
    * (ilog2 corpus-surprisal − ilog2 source-surprisal) weighted by the
    * source count, so the whole divergence is an exact integer sum and
    * only the final per-token mean divides (IEEE division of identical
    * operands — the QueryDef hash contract). The quantized estimator
    * keeps KL's shape (0 for an exactly corpus-shaped source, growing
    * with skew) within 1 bit per term of the true value.
    *
    * Scale shape: per-(source, token) counts are one map-side-combined
    * shuffle on uniform keys; corpus counts REUSE those partials
    * (second-level rollup, no second scan of the text); the (token,
    * corpus-bits) table broadcasts exactly like the surprisal vocab
    * (top-K + OOV ceiling at web scale); per-source totals are a
    * ≤ #sources-row broadcast. Output is #sources rows.
    */
  val qSourceKl: Q = Q.sql(
    "q_doc_source_kl",
    """WITH t AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS tok
      |  FROM documents),
      |sc AS (SELECT source, tok, COUNT(*) AS cs FROM t GROUP BY source, tok),
      |st AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM sc GROUP BY source),
      |cv AS (SELECT tok, CAST(SUM(cs) AS BIGINT) AS cc FROM sc GROUP BY tok),
      |ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM cv),
      |terms AS (
      |  SELECT sc.source,
      |    sc.cs * ((length(bin(ct.nc)) - length(bin(cv.cc)))
      |           - (length(bin(st.ns)) - length(bin(sc.cs)))) AS term
      |  FROM sc
      |  JOIN cv USING (tok)
      |  JOIN st USING (source)
      |  CROSS JOIN ct)
      |SELECT st.source, st.ns AS n_tokens,
      |  CAST(x.se AS BIGINT) AS sum_excess_bits,
      |  CAST(x.se AS DOUBLE) / st.ns AS kl_bits
      |FROM (SELECT source, SUM(term) AS se FROM terms GROUP BY source) x
      |JOIN st USING (source)
      |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val sc = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
    val st = sc.groupBy("source").agg(sum("cs").as("ns"))
    val cv = sc.groupBy("tok").agg(sum("cs").as("cc"))
    val ct = cv.agg(sum("cc").as("nc"))
    val corpusBits = cv.crossJoin(broadcast(ct))
      .select(col("tok"),
        (length(bin(col("nc"))) - length(bin(col("cc")))).cast(LongType)
          .as("bits_c"))
    sc.join(broadcast(corpusBits), "tok")
      .join(broadcast(st), "source")
      .select(col("source"), col("ns"),
        (col("cs") * (col("bits_c") -
          (length(bin(col("ns"))) - length(bin(col("cs")))).cast(LongType)))
          .as("term"))
      .groupBy("source")
      .agg(first(col("ns")).as("n_tokens"), sum("term").as("sum_excess_bits"))
      .select(col("source"), col("n_tokens"), col("sum_excess_bits"),
        (col("sum_excess_bits").cast(DoubleType) / col("n_tokens")).as("kl_bits"))
      .orderBy(col("source").asc)
  }

  /** PER-SOURCE QUALITY CALIBRATION — each document's quality score
    * re-expressed as its percentile WITHIN its source: a raw
    * stopword-ratio threshold applied corpus-wide lets a uniformly
    * verbose source dominate and silently deletes a terse one, so
    * production cuts (FineWeb-style) are taken per-source on the
    * calibrated percentile. rank and n are integers; the percentile is
    * one IEEE division; single-doc sources have no spread and
    * calibrate to NULL.
    *
    * Scale shape: score in the scan, one rank window partitioned by
    * source — corpus-parallel across sources, never a global window.
    */
  val qQualityCalibrate: Q = Q.sql(
    "q_doc_quality_calibrate",
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+'),
       |      t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS DOUBLE)
       |      / len(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS score
       |  FROM documents WHERE length(trim(text)) > 0),
       |r AS (
       |  SELECT doc_id, source, score,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM q)
       |SELECT doc_id, source, score,
       |  CASE WHEN n > 1 THEN CAST(rk - 1 AS DOUBLE) / (n - 1) END AS src_pct
       |FROM r
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val toks = tokens(col("text"))
    val q = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        (size(filter(toks, t => t.isin(stopwords: _*))).cast(DoubleType) /
          size(toks)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("doc_id").asc)
    q.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .select(col("doc_id"), col("source"), col("score"),
        when(col("n") > 1,
          (col("rk") - 1).cast(DoubleType) / (col("n") - 1)).as("src_pct"))
      .orderBy(col("doc_id").asc)
  }

  /** SIMHASH ESTIMATOR ACCURACY AUDIT — for every exact-Jaccard
    * near-dup pair (the DF-capped candidate family's ground truth),
    * the 64-bit SimHash hamming distance and its similarity estimate
    * (1 − h/64) side by side: the calibration table that tells you
    * what hamming radius your near-dup recall actually needs BEFORE
    * you trust banded SimHash alone at 100 TB, where the exact rerank
    * is the expensive half. Completes the estimator-audit family
    * (KMV audience overlap, dHash image near-dup).
    *
    * Scale shape: the near-dup-sized pair table broadcasts into two
    * keyed lookups against the memoized signature checkpoint; hamming
    * is a bit_count(xor) in the projection — no new candidate work
    * anywhere.
    */
  val qSimhashAccuracy: Q = Q.sql(
    "q_doc_simhash_accuracy",
    s"""$jaccardPairsSql,
       |sig AS (
       |  SELECT doc_id, sim FROM read_parquet('$simhashSigAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents))
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |  CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming,
       |  1e0 - CAST(bit_count(xor(sa.sim, sb.sim)) AS DOUBLE) / 64e0 AS sim_est
       |FROM pairs p
       |JOIN sig sa ON p.doc_a = sa.doc_id
       |JOIN sig sb ON p.doc_b = sb.doc_id
       |ORDER BY doc_a ASC, doc_b ASC""".stripMargin) { (s, d) =>
    val pairs = jaccardPairsShared(s, d)
    val sig = simhashSigFrame(s, d)
    val ham = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    broadcast(pairs)
      .join(sig.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        ham.cast(LongType).as("hamming"),
        (lit(1.0) - ham.cast(DoubleType) / lit(64.0)).as("sim_est"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, simhashSigAuxDir, d) {
      OracleAux.write(simhashSigFrame(s, d), simhashSigAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  private[graft] val minhashSigAuxDir = s"${OracleAux.root}/minhash_sig"

  /** Memoized exploded (doc_id, i, mh) MinHash signature table —
    * the per-permutation view of the same signatures the band frame
    * folds into band hashes; PURE (the oracle-replay publish lives in
    * the accuracy query's prepare hook).
    */
  private def minhashSigExploded(s: org.apache.spark.sql.SparkSession,
                                 d: String): DataFrame = {
    SharedFrames.frame(s, s"minhash_sig_exploded:$d") {
      minhashShingles(s, d)
        .select(col("doc_id"),
          posexplode(fastMinhashSig(col("sh"))).as(Seq("i", "mh")))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  /** MINHASH ESTIMATOR ACCURACY AUDIT — the MinHash sibling of
    * [[qSimhashAccuracy]], completing the estimator-audit family: for
    * every exact-Jaccard near-dup pair, the count of agreeing
    * signature components and the unbiased estimate matches/k next to
    * the true Jaccard. With k = 16 permutations the standard error at
    * J = 0.5 is sqrt(J(1−J)/k) ≈ 0.125 — this table is how an
    * operator decides whether that k (and the 4×4 banding built on
    * it) clears their recall bar before running banded MinHash alone
    * over 100 TB, or needs a larger k re-signature first.
    *
    * Scale shape: the near-dup-sized pair table broadcasts into two
    * (doc_id, i)-keyed lookups against the memoized exploded-signature
    * checkpoint (16 rows per doc — corpus-linear, shingle-free);
    * match counting is a map-side-combined aggregate over ≤ 16 rows
    * per pair. ORACLE REPLAY: the engine publishes the exploded
    * signatures (kernel spec-pinned by MinhashRecallSpec /
    * TextFunctionsSpec); DuckDB recomputes exact Jaccard from raw
    * documents and replays the match count and the two IEEE ops.
    */
  val qMinhashAccuracy: Q = Q.sql(
    "q_doc_minhash_accuracy",
    s"""$jaccardPairsSql,
       |sig AS (
       |  SELECT doc_id, i, mh FROM read_parquet('$minhashSigAuxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |m AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS mh_matches
       |  FROM pairs p
       |  JOIN sig sa ON sa.doc_id = p.doc_a
       |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.i = sa.i AND sb.mh = sa.mh
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |  COALESCE(m.mh_matches, 0) AS mh_matches,
       |  CAST(COALESCE(m.mh_matches, 0) AS DOUBLE) / ${minhashK}e0 AS jaccard_est,
       |  CAST(COALESCE(m.mh_matches, 0) AS DOUBLE) / ${minhashK}e0 - p.jaccard AS err
       |FROM pairs p LEFT JOIN m ON p.doc_a = m.doc_a AND p.doc_b = m.doc_b
       |ORDER BY p.doc_a ASC, p.doc_b ASC""".stripMargin) { (s, d) =>
    val pairs = jaccardPairsShared(s, d)
    val sig = minhashSigExploded(s, d)
    val matches = broadcast(pairs.select(col("doc_a"), col("doc_b")))
      .join(sig.select(col("doc_id").as("doc_a"), col("i"), col("mh")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("i"),
        col("mh").as("mh_b")), Seq("doc_b", "i"))
      .filter(col("mh") === col("mh_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("mh_matches"))
    val est = coalesce(col("mh_matches"), lit(0L)).cast(DoubleType) /
      lit(minhashK.toDouble)
    broadcast(pairs).join(matches, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("mh_matches"), lit(0L)).as("mh_matches"),
        est.as("jaccard_est"), (est - col("jaccard")).as("err"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }.preparedBy { (s, d) =>
    OracleAux.prepareOnce(s, minhashSigAuxDir, d) {
      OracleAux.write(minhashSigExploded(s, d), minhashSigAuxDir,
        docsKey(Tables.documents(s, d)), singleFile = false)
    }
  }

  /** CORPUS NOVELTY CURVE — dataset freshness over crawl order: with
    * doc_id as ingest order, a (doc, shingle) membership is NOVEL iff
    * this doc is the shingle's first carrier; per 500-doc cohort the
    * novel fraction is the marginal-information curve a collection
    * effort watches to decide when a source is mined out (the
    * data-constrained-scaling companion to q_doc_token_budget_select:
    * that op picks WHAT to keep, this one tells you when continuing
    * to crawl stops adding anything).
    *
    * Scale shape: one shingle explode + distinct, then TWO aggregates
    * and no join-back (r12; the previous shape joined the corpus-gram
    * stream against its own first-carrier table — a second full-size
    * shuffle — just to flag rows the min-aggregate already identified):
    * per-cohort membership totals straight off the distinct stream,
    * and per-cohort novel counts off the shingle-keyed min-aggregate
    * (corpus-gram-sized shuffle, the q_split_leakage class) — each
    * shingle's min row IS its unique novel membership, so counting
    * first carriers by cohort is the SUM(doc = first_doc) of the
    * join form. The two cohort tables (corpus/500 rows) then join.
    * First-carrier selection is an aggregate, never a window over
    * shingle groups.
    */
  val qNoveltyCurve: Q = Q.sql(
    "q_doc_novelty_curve",
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |    FROM toks WHERE len(t) >= 3)),
      |first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
      |SELECT doc_id // 500 AS cohort, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM sh JOIN first USING (shingle)
      |GROUP BY 1
      |ORDER BY cohort ASC""".stripMargin) { (s, d) =>
    val sh = minhashShingles(s, d)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .distinct()
    val tot = sh.groupBy(expr("doc_id div 500").as("cohort"))
      .agg(count(lit(1)).as("n_grams"))
    val nov = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
      .groupBy(expr("first_doc div 500").as("cohort"))
      .agg(count(lit(1)).as("n_novel"))
    // a cohort whose every shingle was seen before has no first-carrier
    // row: LEFT + 0 matches the join form's SUM of zeros
    tot.join(nov, Seq("cohort"), "left")
      .select(col("cohort"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast(DoubleType)
          / col("n_grams").cast(DoubleType)).as("novelty"))
      .orderBy(col("cohort").asc)
  }

  /** C4 HEURISTIC CLEANING RULES (Raffel et al. JMLR 2020 §2.2) — the
    * line- and page-level scrub that built C4 from Common Crawl,
    * complementing q_doc_gopher_rules' document-statistics gates with
    * C4's LINE-level judgment: a line survives only if it ends in
    * terminal punctuation, carries ≥ 3 words, and doesn't mention
    * javascript; a page survives only with ≥ 3 surviving lines and
    * no lorem-ipsum / curly-brace markers (code and template debris).
    * Pure per-row string work — counts and booleans, no floats, so
    * the oracle match is trivially exact.
    *
    * Scale shape: one scan, zero shuffles before the output sort; at
    * 100 TB this is a mapper, exactly like the production C4 job.
    */
  val qC4Rules: Q = Q.sql(
    "q_doc_c4_rules",
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(text, '\n')) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(regexp_split_to_array(text, '\n'),
      |    l -> regexp_matches(trim(l), '[.!?"]$')
      |         AND len(regexp_split_to_array(trim(l), '[ \x09-\x0d]+')) >= 3
      |         AND NOT contains(lower(l), 'javascript'))) AS BIGINT) AS n_kept,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_brace,
      |  (len(list_filter(regexp_split_to_array(text, '\n'),
      |    l -> regexp_matches(trim(l), '[.!?"]$')
      |         AND len(regexp_split_to_array(trim(l), '[ \x09-\x0d]+')) >= 3
      |         AND NOT contains(lower(l), 'javascript'))) >= 3
      |   AND NOT contains(lower(text), 'lorem ipsum')
      |   AND NOT contains(text, '{')) AS keep
      |FROM documents
      |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val lines = split(col("text"), "\n")
    val keptLine = (l: org.apache.spark.sql.Column) =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 3 &&
        !lower(l).contains("javascript")
    val nKept = size(filter(lines, keptLine)).cast(LongType)
    Tables.documents(s, d).select(
      col("doc_id"),
      size(lines).cast(LongType).as("n_lines"),
      nKept.as("n_kept"),
      lower(col("text")).contains("lorem ipsum").as("has_lorem"),
      col("text").contains("{").as("has_brace"),
      (nKept >= 3 && !lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{")).as("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** PER-SOURCE ZIPF SLOPE — least-squares slope of the (log₂ rank,
    * log₂ frequency) cloud of each source's term distribution.
    * Natural language tracks Zipf's law (slope ≈ −1); template-heavy
    * or machine-generated sources flatten (few types, uniform
    * frequencies → slope near 0) or collapse (one hot template line →
    * steep head) — a one-number vocabulary-health triage per source.
    * Logs are INTEGER bit-lengths (length of the binary expansion —
    * no libm anywhere), so all five regression sums are exact
    * integers and the slope is one IEEE division of exact operands;
    * degenerate sources (all points on one x) return NULL.
    *
    * Scale shape: (source, term) counts map-side combine; the rank
    * window partitions by source over the vocab-sized count table,
    * never the corpus; regression sums combine to ≤ #sources rows.
    */
  val qZipfSlope: Q = Q.sql(
    "q_doc_zipf_slope",
    """WITH c AS (
      |  SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT source,
      |          unnest(regexp_split_to_array(lower(trim(text)), '[ \x09-\x0d]+')) AS t
      |        FROM documents WHERE length(trim(text)) > 0)
      |  GROUP BY source, t),
      |p AS (
      |  SELECT source,
      |    CAST(length(bin(row_number() OVER (PARTITION BY source
      |      ORDER BY n DESC, term ASC))) AS BIGINT) AS x,
      |    CAST(length(bin(n)) AS BIGINT) AS y
      |  FROM c),
      |a AS (
      |  SELECT source, COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM p GROUP BY source)
      |SELECT source, CAST(np AS BIGINT) AS n_types,
      |  CASE WHEN np * sxx - sx * sx <> 0
      |    THEN CAST(np * sxy - sx * sy AS DOUBLE)
      |           / CAST(np * sxx - sx * sx AS DOUBLE)
      |  END AS zipf_slope
      |FROM a
      |ORDER BY source ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val c = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("term").asc)
    val p = c.select(col("source"),
      length(bin(row_number().over(w))).cast(LongType).as("x"),
      length(bin(col("n"))).cast(LongType).as("y"))
    p.groupBy("source")
      .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("np").as("n_types"),
        when(col("np") * col("sxx") - col("sx") * col("sx") =!= 0,
          (col("np") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("np") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("zipf_slope"))
      .orderBy(col("source").asc)
  }

  val all: Seq[Q] = Seq(
    qExactDedup, qTokenCount, qQualityScore, qUnigramSurprisal, qCompressRatio,
    qNgramJaccard, qMinhashLsh, qSimhash, qLangId, qFingerprint, qBinaryMeta,
    qTokensExploded, qFingerprintNearDup, qQualityModel, qLengthBuckets, qDsir,
    qLmPerplexity, qBm25, qCmsTopGrams, qGopherRules, qDoremiWeights,
    qNgramDiversity, qSoftDedup, qEditDistNearDup, qIncrementalNearDup,
    qVocabCoverage, qSourceOverlap, qSourceKl, qContainment,
    qRetrievalTriplets, qC4Rules, qZipfSlope, qQualityCalibrate,
    qSimhashAccuracy, qMinhashAccuracy, qNoveltyCurve, qPmiPairs)
}

/** Per-executor-thread MessageDigest for the CMS point-query UDF:
  * referenced statically from the closure (never captured — a
  * ThreadLocal is not serializable), instantiated once per task
  * thread instead of once per row.
  */
private[queries] object CmsMd5 {
  private val tl = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  def get(): java.security.MessageDigest = tl.get()
}
