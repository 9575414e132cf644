package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.queries.{PipelineQ, TextQ}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.tokens

/** Streaming document curation — the ingest-time form of the batch
  * q_doc_curate pipeline (normalize → quality gate → exact dedup),
  * for corpora that arrive continuously rather than as a static
  * snapshot. StreamingDocsSpec proves the retained set matches the
  * batch stages on a replayed fixture.
  *
  * Scale design: normalize + quality are per-row (fuse into the scan
  * of each micro-batch, no state); dedup is
  * `dropDuplicatesWithinWatermark` on the normalized-text hash, so
  * state is O(distinct docs within the watermark horizon) rather than
  * O(stream length) — the watermark is the knob trading replay-guard
  * span against state size. Shard packing stays batch-side: shard ids
  * depend on a global prefix sum, which is meaningless on an unbounded
  * stream (at ingest you'd pack per micro-batch epoch instead).
  *
  * Batch-parity caveat: `dropDuplicatesWithinWatermark` keeps the
  * FIRST-ARRIVING document per text_hash, while batch q_doc_curate
  * keeps MIN(doc_id). The two agree only when replay order matches
  * doc_id order (which StreamingDocsSpec's fixture replay guarantees
  * by construction); out-of-order ingest of a duplicate group may
  * retain a different — equally valid — representative than the batch
  * run. Callers needing batch-identical survivors must either ingest
  * in doc_id order or reconcile representatives in a batch compaction.
  */
object StreamingDocs {

  /** Build the benchmark 5-gram set for ingest-time decontamination
    * from a static corpus (same derivation as the batch curate stage:
    * raw-text whitespace tokens, doc_id < maxDocId stand-ins). Bench
    * sets are eval-suite-sized — a driver collect by design; at a
    * 10^8-gram benchmark suite swap the Set for the bloom filter
    * (PipelineQ's contamination_bloom path) with the same per-row
    * filter shape.
    */
  def benchGramSet(staticDocs: DataFrame,
                   maxDocId: Long = PipelineQ.curateBenchMaxDocId): Set[String] =
    staticDocs.filter(col("doc_id") < maxDocId)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.shingles(tokens(col("text")), 5)).as("g"))
      .distinct().collect().map(_.getString(0)).toSet

  /** Per-row model score bit-identical to the batch
    * q_doc_quality_model: exact decimal Σ w_t·c_t over the quantized
    * weight table, ONE double conversion, one IEEE division, plus the
    * bias — evaluated inside the scan of each micro-batch (stateless,
    * broadcast weights, no shuffle). Bit parity with the batch scorer
    * is pinned by StreamingDocsSpec.
    */
  private def modelScoreUdf(docs: DataFrame,
                            weights: Seq[(String, java.math.BigDecimal)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val biasTerm = graft.functions.QualityModel.biasTerm
    // fail fast like the batch scorer (TextQ qQualityModel does .get):
    // a silent bias default would admit a different document set than
    // a batch re-curation, violating the bit-parity contract exactly
    // when the weight table is malformed
    val bias = weights.find(_._1 == biasTerm)
      .getOrElse(throw new IllegalArgumentException(
        s"model weight table is missing the $biasTerm row"))
      ._2.doubleValue
    val bc = docs.sparkSession.sparkContext.broadcast(
      weights.filter(_._1 != biasTerm).toMap)
    udf { toks: Seq[String] =>
      // null only for null text (split with limit -1 never yields an
      // empty array); returning boxed null makes the >= filter drop
      // the row without a separate size() guard re-tokenizing the doc
      if (toks == null || toks.isEmpty) null
      else {
        val w = bc.value
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        toks.foreach(t => if (w.contains(t)) counts.update(t, counts.getOrElse(t, 0L) + 1L))
        var s = java.math.BigDecimal.ZERO
        counts.foreach { case (t, c) =>
          s = s.add(w(t).multiply(java.math.BigDecimal.valueOf(c)))
        }
        java.lang.Double.valueOf(s.doubleValue / toks.size + bias)
      }
    }
  }

  /** Per-row LM bits/token bit-identical to the batch
    * q_doc_lm_perplexity column: capped-vocab mapping, per-occurrence
    * exact-decimal Σ of the quantized bigram log-probs (decimal
    * addition is exact, so per-occurrence summation equals the batch
    * Σ lp·c grouping), ONE double conversion, one IEEE division —
    * evaluated inside the scan (stateless, broadcast model, no
    * shuffle). Bigrams the trained table has never seen — impossible
    * when replaying the training corpus, routine on a live stream —
    * score the quantized add-one floor log2(1/(V+1)), the mass a
    * zero-count context assigns. Returns null (→ filtered) for docs
    * with <2 tokens, which the batch query likewise excludes.
    */
  private def lmBitsUdf(docs: DataFrame,
                        vocab: Seq[String],
                        table: Seq[(String, java.math.BigDecimal)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val sc = docs.sparkSession.sparkContext
    val bcV = sc.broadcast(vocab.toSet)
    val bcT = sc.broadcast(table.toMap)
    val floor = java.math.BigDecimal.valueOf(
      math.log(1.0 / (vocab.size + 1)) / math.log(2.0))
      .setScale(6, java.math.RoundingMode.HALF_UP)
    val unk = graft.queries.TextQ.lmUnk
    udf { toks: Seq[String] =>
      if (toks == null || toks.size < 2) null
      else {
        val v = bcV.value
        val t = bcT.value
        val mapped = toks.map(x => if (v.contains(x)) x else unk)
        var s = java.math.BigDecimal.ZERO
        var i = 1
        while (i < mapped.size) {
          s = s.add(t.getOrElse(mapped(i - 1) + " " + mapped(i), floor))
          i += 1
        }
        java.lang.Double.valueOf(s.negate.doubleValue / (mapped.size - 1))
      }
    }
  }

  /** Curate a document stream. Input columns: doc_id, text, and
    * `ingest_ts` (TimestampType event time). Emits
    * (doc_id, ingest_ts, norm_text, n_tokens) for documents that pass
    * the quality gate, first-arrival-wins per normalized text.
    *
    * `benchGrams` (when non-empty) adds the batch pipeline's
    * decontamination stage in its streaming-correct shape: a per-row
    * STATELESS filter against the broadcast benchmark 5-gram set —
    * no stream-side aggregation, no extra state, matching the batch
    * stage's raw-text gram definition exactly. One scoping
    * difference, by design: the stream treats the bench as EXTERNAL,
    * so any arriving document overlapping it is dropped — the batch
    * stage exempts its doc_id < 10 rows only because its bench is
    * drawn from corpus rows standing in for the eval suite.
    *
    * `modelWeights` (when non-empty) adds the MODEL-BASED quality
    * filter at ingest: documents scoring below `modelThreshold` under
    * the trained linear model (graft.functions.QualityModel — weights
    * trained batch-side on a static corpus, broadcast here) are
    * dropped in the same stateless per-row shape. Scores are
    * bit-identical to the batch q_doc_quality_model column, so a doc
    * admitted at ingest is exactly the doc a batch re-curation with
    * the same weight table would keep.
    *
    * `lmModel` (when set: the vocab + quantized gram→lp rows from
    * [[graft.queries.TextQ.lmModel]]) adds the CCNet perplexity gate
    * at ingest: documents scoring more than `lmMaxBits` bits/token
    * under the batch-trained bigram LM are dropped, stateless and
    * bit-identical to the batch q_doc_lm_perplexity column (unseen
    * bigrams — possible only for genuinely new stream text — score
    * the add-one floor). Docs with <2 tokens are dropped by this
    * gate, as in the batch query.
    */
  def curateStream(docs: DataFrame,
                   minTokens: Long = PipelineQ.curateMinTokens,
                   maxPunctRatio: Double = PipelineQ.curateMaxPunctRatio,
                   watermarkDelay: String = "1 hour",
                   benchGrams: Set[String] = Set.empty,
                   modelWeights: Seq[(String, java.math.BigDecimal)] = Nil,
                   modelThreshold: Double = 0.0,
                   lmModel: Option[(Seq[String], Seq[(String, java.math.BigDecimal)])] = None,
                   lmMaxBits: Double = Double.MaxValue): DataFrame = {
    val decon =
      if (benchGrams.isEmpty) docs
      else {
        val bc = docs.sparkSession.sparkContext.broadcast(benchGrams)
        val contaminated = udf { toks: Seq[String] =>
          toks.iterator.sliding(5).withPartial(false)
            .exists(w => bc.value.contains(w.mkString(" ")))
        }
        docs.filter(!contaminated(tokens(col("text"))))
      }
    val clean =
      if (modelWeights.isEmpty) decon
      else {
        // raw-text tokens, matching the batch scorer's input exactly;
        // one tokens() evaluation per row — the UDF returns null for
        // null text, which the >= comparison filters out
        val score = modelScoreUdf(docs, modelWeights)
        decon.filter(score(tokens(col("text"))) >= modelThreshold)
      }
    val fluent = lmModel match {
      case None => clean
      case Some((vocab, table)) =>
        val bits = lmBitsUdf(docs, vocab, table)
        clean.filter(bits(tokens(col("text"))) <= lmMaxBits)
    }
    val scored = fluent
      .select(col("doc_id"), col("ingest_ts"),
        PipelineQ.normText(col("text")).as("norm_text"))
      .filter(length(col("norm_text")) > 0)
      .withColumn("n_tokens", size(tokens(col("norm_text"))).cast(LongType))
      .withColumn("n_punct",
        (length(col("norm_text")) -
          length(regexp_replace(col("norm_text"), "[^\\w\\s]", "")))
          .cast(LongType))
    scored
      .filter(col("n_tokens") >= minTokens &&
        col("n_punct").cast(DoubleType) / length(col("norm_text")) <= maxPunctRatio)
      .withColumn("text_hash", md5(col("norm_text").cast("binary")))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
      .select(col("doc_id"), col("ingest_ts"), col("norm_text"), col("n_tokens"))
  }

  /** The streaming curate TAIL — split assignment + per-split
    * token-budget shard packing — as one idempotent micro-batch step
    * (the stateful global prefix sum is meaningless on an unbounded
    * stream, so this is the documented `foreachBatch` shape the batch
    * flagship's packing takes at ingest):
    *
    *   - split: [[PipelineQ.splitCol]], the SAME stable md5 cut as the
    *     batch flagship — per-row, stateless, so membership can never
    *     diverge between ingest and a later batch re-curation.
    *   - packing: the per-split running sum RESTARTS each batch with a
    *     carried offset = the token mass of all PRIOR epochs, read from
    *     the shard tree itself — so shard ids continue the global
    *     sequence exactly as if the whole stream had been packed in one
    *     batch pass (for in-order ingest, bit-identical to
    *     [[PipelineQ.curateDocs]]'s shard ids; StreamingDocsSpec pins
    *     the parity). The in-batch window partitions by split, bounded
    *     by micro-batch size — the batch path's bucketed two-phase sum
    *     degenerates to this because a micro-batch IS one bucket.
    *   - restart/replay safety: output lands under
    *     `dir/data/epoch=<id>/split=…/shard_id=…` with DYNAMIC
    *     partition overwrite, so a replayed epoch (post-crash re-fire
    *     of foreachBatch) overwrites exactly its own files — appends
    *     can never duplicate. Carried offsets filter `epoch <
    *     epochId`, so a half-written replay attempt never double
    *     counts.
    *   - O(batch), not O(history): per-batch bookkeeping reads the
    *     driver-scale `_epoch_stats` table (one tiny row set per
    *     epoch, derived from the READ-BACK of that epoch's partition —
    *     certifying the files on disk), never the historical data
    *     tree. Carried offsets sum prior epochs' stats; the loader
    *     manifest is the (split, shard_id) merge of all epoch stats —
    *     counts/masses sum, doc_id bounds min/max, and the
    *     order-independent XOR content hash merges exactly because
    *     epoch row sets are disjoint.
    *
    * A shard that spans epochs holds one file per epoch — the loader
    * reads via the manifest's (split, shard_id) rows, not the file
    * layout, same contract as the batch ShardSink.
    */
  def packCuratedBatch(batch: DataFrame, epochId: Long, dir: String,
                       budget: Long = PipelineQ.shardTokenBudget): Unit = {
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val dataDir = s"$dir/data"
    val statsDir = s"$dir/_epoch_stats"
    val withSplit = batch
      .select(col("doc_id"), col("n_tokens"), PipelineQ.splitCol.as("split"))
    val priorStats =
      try Some(s.read.parquet(statsDir).filter(col("epoch") < epochId)
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))
      catch {
        // first epoch: no stats yet (works on any filesystem, unlike a
        // driver-side path probe)
        case _: org.apache.spark.sql.AnalysisException => None
      }
    val carried: Map[String, Long] = priorStats match {
      case None => Map.empty
      case Some(st) => st.groupBy("split").agg(sum("n_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val carriedCol =
      if (carried.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(carried), col("split")), lit(0L))
    val w = Window.partitionBy("split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = withSplit
      .withColumn("shard_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens") + carriedCol)
          / budget).cast(LongType))
      .select(col("doc_id"), col("n_tokens"), col("split"), col("shard_id"))
    packed.withColumn("epoch", lit(epochId))
      .repartitionByRange(col("split"), col("shard_id"))
      .sortWithinPartitions("split", "shard_id", "doc_id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "split", "shard_id")
      .parquet(dataDir)
    // this epoch's stats, from the read-back of exactly its partition
    // (partition pruning — the historical tree is never scanned)
    val epochStats = graft.sink.ShardSink.manifestOf(
      s.read.parquet(dataDir).filter(col("epoch") === epochId)
        .select("doc_id", "n_tokens", "split",
          "shard_id"))
      .withColumn("shard_id", col("shard_id").cast(LongType))
    epochStats.coalesce(1).write.mode("overwrite")
      .parquet(s"$statsDir/epoch=$epochId")
    // loader manifest = merge of all epoch stats (driver-scale)
    val allStats = priorStats match {
      case None => epochStats
      case Some(st) => st.drop("epoch")
        .withColumn("shard_id", col("shard_id").cast(LongType))
        .unionByName(epochStats)
    }
    allStats
      .groupBy("split", "shard_id")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("min_doc_id").as("min_doc_id"), max("max_doc_id").as("max_doc_id"),
        expr("bit_xor(content_hash)").as("content_hash"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_manifest")
    priorStats.foreach(_.unpersist())
  }

  /** Wire [[curateStream]] into [[packCuratedBatch]]: the full
    * ingest-time counterpart of the batch flagship (normalize →
    * quality → dedup → decontamination → split → per-split packing),
    * checkpointed so a restarted query resumes epoch numbering and the
    * carried offsets recover from the shard tree.
    */
  def curateAndPackStream(docs: DataFrame, dir: String, checkpoint: String,
                          minTokens: Long = PipelineQ.curateMinTokens,
                          maxPunctRatio: Double = PipelineQ.curateMaxPunctRatio,
                          watermarkDelay: String = "1 hour",
                          benchGrams: Set[String] = Set.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    curateStream(docs, minTokens, maxPunctRatio, watermarkDelay, benchGrams)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        packCuratedBatch(b.select(col("doc_id"), col("n_tokens")), epochId, dir)
      }
      .start()

  /** Streaming NEAR-dup ingest gate against the persistent corpus band
    * index ([[graft.sink.BandIndex]]) — the streaming form of
    * q_doc_incremental_neardup's candidate pass: per-row MinHash band
    * keys (the same stateless codegen signature expression as the
    * batch kernel), then one stream-static LEFT ANTI join PER BAND
    * against the index — a document any of whose bands collides with a
    * kept corpus doc is dropped at ingest; a document with no
    * collision in any band passes.
    *
    * Zero streaming state: the band index IS the state — durable,
    * shared with the batch path, grown via [[graft.sink.BandIndex
    * .append]] from a foreachBatch tail (where the exact-Jaccard
    * rerank of the dropped candidates also belongs, exactly as in the
    * batch operator — the gate itself is the conservative
    * candidate-level cut, the same contract as the streaming bloom
    * decontamination gate). Documents too short to shingle (< 3
    * tokens) carry NULL band keys, which an equi anti-join never
    * matches — they pass, mirroring the batch semantics where an
    * unshingled doc is never a candidate.
    */
  def neardupGateStream(docs: DataFrame, indexTable: String): DataFrame = {
    val s = docs.sparkSession
    val bands = TextQ.minhashBands
    val rpb = TextFunctions.minhashK / bands
    val sig = TextFunctions.fastMinhashSig(
      TextFunctions.shingles(tokens(col("text")), 3))
    val shingled = size(tokens(col("text"))) >= 3
    val keyed = (0 until bands).foldLeft(docs.withColumn("__sig", sig)) {
      (df, b) =>
        df.withColumn(s"__bh$b",
          when(shingled, TextFunctions.bandHash(col("__sig"), lit(b), lit(rpb))))
    }
    val index = s.table(indexTable)
    val gated = (0 until bands).foldLeft(keyed) { (df, b) =>
      df.join(
        index.filter(col("band") === b).select(col("bh").as(s"__bh$b")),
        Seq(s"__bh$b"), "left_anti")
    }
    gated.drop("__sig" +: (0 until bands).map(b => s"__bh$b"): _*)
  }
}
