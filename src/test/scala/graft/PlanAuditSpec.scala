package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan audits: the 100 TB design claims pinned as tests, so a
  * regression that silently flips a broadcast to a sort-merge join, or
  * drops a parquet pushdown, or breaks partial aggregation FAILS CI
  * rather than surfacing as a cluster bill. (`.explain` iterated until
  * the plan is the one we want — then frozen here.)
  */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.toString

  test("top-k lowers to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("dim joins broadcast the small side (nation/region, max-year scalars)") {
    val rollup = plan("q_join_agg_rollup")
    assert(rollup.contains("BroadcastHashJoin"), rollup.linesIterator.take(5).mkString("\n"))
    assert(!rollup.contains("SortMergeJoin"),
      "dim joins must not degrade to SMJ at this scale")
    // the max-year snapshot is a broadcast of a 1-row aggregate, not a collect
    assert(plan("q_left_join_snapshot").contains("BroadcastHashJoin"))
  }

  test("point lookup pushes its predicate into the parquet scan") {
    val p = plan("q_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), p)
  }

  test("column pruning reaches the scan: q1 reads only the 7 needed lineitem columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan reads more than projected: $readSchema")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val p = plan("q1_pricing_summary")
    // two HashAggregate nodes (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.linesIterator.take(8).mkString("\n"))
  }

  test("whole-stage codegen covers the relational hot path") {
    // AQE finalizes the plan lazily — execute first, then audit the
    // final adaptive plan for codegen spans
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // codegen'd operators carry the `*(stageId)` prefix in plan text
    assert(finalPlan("q1_pricing_summary").contains("*(1) HashAggregate"))
    assert(finalPlan("q_derived_rate").contains("*("))
  }

  test("semi/anti joins stay semi/anti (no exists-materialization)") {
    assert(plan("q_semi_join").toLowerCase.contains("leftsemi"))
    assert(plan("q_anti_join").toLowerCase.contains("leftanti"))
  }

  test("minhash band join carries keys only (no shingle payload through the shuffle)") {
    // the pair-dedup Aggregate (dropDuplicates) must group on exactly
    // (doc_a, doc_b) — if a shingle array rode through the band
    // self-join it would appear here (the round-1 scale-killer)
    val o = optimized("q_doc_minhash_lsh")
    val dedupLine = o.linesIterator.find(l =>
      l.contains("Aggregate") && l.contains("doc_a") && l.contains("doc_b"))
    assert(dedupLine.isDefined, o.linesIterator.take(8).mkString("\n"))
    assert(!dedupLine.get.contains("sh_"),
      s"shingle payload leaked into the candidate join: ${dedupLine.get}")
  }

  test("the Q5 join graph broadcasts its dims and never falls back to nested loops") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(6).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "six-table join must stay hash-based")
  }

  test("ROLLUP compiles to one Expand + aggregate pass (no per-level re-scan)") {
    val p = plan("q_rollup")
    assert("Expand".r.findAllIn(p).size >= 1, p)
    // one base scan feeds every grouping level
    assert("FileScan parquet".r.findAllIn(p).size == 3, // customer+nation+region
      "rollup must not re-scan the fact per level")
  }

  test("GROUPING SETS corpus profile is one Expand over a single documents scan") {
    val p = plan("q_doc_corpus_profile")
    assert("Expand".r.findAllIn(p).size >= 1, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "grouping sets must not re-scan the corpus per dimension")
  }

  test("CUBE compiles to one Expand over a single orders scan") {
    val p = plan("q_cube")
    assert("Expand".r.findAllIn(p).size >= 1, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "cube must not re-scan the fact per grouping combination")
  }

  test("time fill pre-aggregates the fact before joining the tiny month grid") {
    val p = plan("q_time_fill")
    // monthly counts must reduce map-side: a partial_count before the
    // (priority, month) exchange, so the join sees aggregated rows only
    assert(p.contains("partial_count"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the dense-grid fill join must stay broadcast-sized:\n$p")
  }

  test("typed top-k aggregator runs as ObjectHashAggregate with partial merge") {
    val p = plan("q_topk_per_group")
    assert(p.contains("ObjectHashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final aggregate")
  }

  test("shingle subtree is materialized once and shared in ngram jaccard") {
    // the catalog entry reads the session-shared checkpointed pair table
    // (SharedFrames): a pure read, zero corpus re-scans
    val p = plan("q_doc_ngram_jaccard")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("FileScan"),
      s"catalog entry must read the shared pair checkpoint, not re-derive:\n$p")
    // and the pair DERIVATION itself reads its checkpointed shingle
    // table for all four consumers (sizes, DF cap, both join sides)
    // instead of re-running tokenize+explode+distinct
    val deriv = graft.queries.TextQ.candidatePairs(spark, sfDir, graft.queries.TextQ.maxShingleDf)
      .queryExecution.executedPlan.toString
    assert(!deriv.contains("FileScan"),
      s"shingle pipeline must run once (checkpoint), never per consumer:\n$deriv")
    assert("ExistingRDD".r.findAllIn(deriv).size >= 3,
      s"expected sizes/DF-cap/join consumers to share the shingle checkpoint:\n$deriv")
  }

  test("stratified sampling filters in the scan stage — no shuffle before the cut") {
    val p = plan("q_doc_stratified_sample")
    // exactly one Exchange: the range partitioning for the final ORDER BY;
    // the md5-threshold filter itself must run pre-shuffle so a 100 TB
    // corpus downsamples before any data moves
    assert("Exchange".r.findAllIn(p).size == 1, p)
    val filterLine = p.linesIterator.find(_.contains("Filter")).getOrElse("")
    assert(filterLine.contains("md5"), s"expected the md5 cut in a Filter: $p")
  }

  test("shard packing windows are bucket-partitioned — no single-task global window") {
    val p = plan("q_doc_shard_pack")
    assert(p.contains("Window"), p)
    // a global running sum would plan Exchange SinglePartition; the
    // two-phase prefix design must never do that
    assert(!p.contains("SinglePartition"),
      s"global window detected — the two-phase prefix sum regressed:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__bucket"),
      s"window must partition by __bucket: $windowLine")
  }

  test("curate flagship: per-split packing windows stay bucket-partitioned, decontam broadcasts") {
    val p = plan("q_doc_curate")
    // the (split, bucket)-keyed two-phase prefix sum must never plan a
    // single-partition window, same contract as q_doc_shard_pack
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"global window detected — per-split two-phase prefix sum regressed:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__bucket") && windowLine.contains("split"),
      s"window must partition by (split, __bucket): $windowLine")
    // the folded-in decontamination stage keeps its broadcast semi-join
    assert(p.toLowerCase.contains("leftsemi") && p.contains("BroadcastHashJoin"),
      "curate's decontamination stage must broadcast the bench n-gram probe")
  }

  test("despan: span frequency aggregates partially; the cut is an anti-join, never exists-materialized") {
    val p = plan("q_doc_despan")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "span frequency must map-side combine before the span-key shuffle")
    assert(p.toLowerCase.contains("leftanti"),
      s"covered-position cut must stay an anti-join:\n${p.linesIterator.take(8).mkString("\n")}")
  }

  test("surgical decontamination broadcasts the bench span set; the cut is an anti-join") {
    val p = plan("q_doc_decontam_spans")
    assert(p.toLowerCase.contains("leftsemi") && p.contains("BroadcastHashJoin"),
      "bench span probe must broadcast — a shuffled semi-join moves the corpus spans")
    assert(p.toLowerCase.contains("leftanti"), p.linesIterator.take(8).mkString("\n"))
  }

  test("decontamination semi-join broadcasts the benchmark n-grams — corpus never shuffles") {
    val p = plan("q_doc_contamination")
    assert(p.toLowerCase.contains("leftsemi"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      "benchmark n-gram table must broadcast; a shuffled semi-join moves the whole corpus")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle detected in the contamination sweep:\n$p")
  }

  test("PII redaction is shuffle-free up to the output sort") {
    val p = plan("q_doc_redact")
    // per-row regexp_replace: the ONLY exchange allowed is the final
    // ORDER BY's range partitioning (which the driver's determinism
    // contract requires)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("repetition metrics aggregate partially before the (doc_id,bigram) shuffle") {
    val p = plan("q_doc_repetition")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      p.linesIterator.take(10).mkString("\n"))
  }

  test("bloom decontamination cuts in the scan stage, then broadcast-confirms") {
    val p = plan("q_doc_contamination_bloom")
    // the bloom UDF must run in a Filter BEFORE the exact semi-join
    val lines = p.linesIterator.toVector
    val bloomIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("UDF"))
    val joinIdx = lines.indexWhere(_.contains("BroadcastHashJoin"))
    assert(bloomIdx >= 0, s"bloom filter missing from the plan:\n$p")
    assert(joinIdx >= 0 && p.toLowerCase.contains("leftsemi"), p)
    assert(bloomIdx > joinIdx, // plan text is top-down: later line = earlier stage
      "bloom cut must sit below (execute before) the exact confirm join")
  }

  test("tfidf rank window partitions by doc_id — never a single-task global window") {
    val p = plan("q_doc_tfidf_topterms")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("doc_id"), s"window must partition by doc_id: $windowLine")
    // only allowed SinglePartition would be none at all pre-output-sort
    assert(!p.contains("SinglePartition"), p)
  }

  test("spatial join is a grid-cell equi-join — never a cross product") {
    val p = plan("q_geo_point_in_poly")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"spatial join degenerated to all-pairs:\n$p")
    // the point side's cell keys must be native floor(), not a UDF
    // (the scan-stage key computation is what keeps the big side cheap)
    val pointSide = p.linesIterator.find(l =>
      l.contains("FLOOR") && l.contains("__cx")).getOrElse("")
    assert(!pointSide.contains("UDF"), s"point cell keys must be codegen: $pointSide")
  }

  test("IVF probe join broadcasts the query side, never the corpus") {
    val p = plan("q_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IVF candidate generation must stay an equi-join on list id")
  }

  test("quality cut broadcasts the per-lang threshold — the corpus filters in place") {
    val p = plan("q_doc_quality_cut")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      s"threshold table must broadcast; an SMJ shuffles the whole corpus:\n$p")
  }

  test("mix balancing broadcasts the tiny rate table — the corpus filters in place") {
    val p = plan("q_doc_mix_balance")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      s"rate table must broadcast; an SMJ shuffles the whole corpus:\n$p")
    // the md5 cut must run in the post-join filter stage, not after
    // any further shuffle of document rows
    assert(p.contains("md5"), p)
  }

  test("incremental dedup anti-join shuffles 16-byte hashes only, never text") {
    val p = plan("q_doc_incremental_dedup")
    assert(p.toLowerCase.contains("leftanti"), p.linesIterator.take(8).mkString("\n"))
    // every exchange must carry only the hash/doc_id projection: the
    // text column is projected away before data moves
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"),
      s"document text crossed a shuffle boundary:\n$exchanges")
  }

  test("sequence spans reuse the bucketed prefix sum — no single-task global window") {
    val p = plan("q_doc_seq_spans")
    assert(!p.contains("SinglePartition"),
      s"global window detected — the two-phase prefix sum regressed:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__bucket"),
      s"window must partition by __bucket: $windowLine")
  }

  test("unigram surprisal broadcasts the vocab — document tokens shuffle once for the doc rollup") {
    // audit the BUILD plan: the catalog query serves the memoized
    // checkpoint (shared with q_doc_doremi_weights), whose own plan is
    // just the checkpoint RDD scan
    val p = graft.queries.TextQ.surprisalBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      "scoring join must not shuffle the exploded token stream against the vocab")
    // partial aggregation before the per-doc shuffle
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("chunking is a per-row generate — no shuffle before the output sort") {
    val p = plan("q_doc_chunk")
    assert(p.contains("Generate"), p.linesIterator.take(8).mkString("\n"))
    // the only exchange allowed is the range partitioning for ORDER BY
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected shuffle in a per-row generate:\n${exchanges.mkString("\n")}")
  }

  test("snapshot diff joins on 16-byte hashes — text never crosses a shuffle") {
    val p = plan("q_doc_snapshot_diff")
    assert(p.toLowerCase.contains("fullouter"), p.linesIterator.take(8).mkString("\n"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"),
      s"document text crossed a shuffle boundary:\n$exchanges")
  }

  test("embedding decontamination broadcasts the bench side — the corpus scans once") {
    val p = plan("q_emb_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bench side must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    assert(!p.contains("CartesianProduct"),
      "bench scoring must never plan a cartesian product")
    // the argmax window partitions by vec_id over the FILTERED rows
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("vec_id"), s"window must partition by vec_id: $windowLine")
    assert(!p.contains("SinglePartition"), p)
  }

  test("global shuffle position is bucket-partitioned — no single-task global window") {
    val p = plan("q_doc_global_shuffle")
    assert(!p.contains("SinglePartition"),
      s"global row_number detected — the two-phase position regressed:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__bucket"),
      s"window must partition by __bucket: $windowLine")
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row offset table must broadcast")
  }

  test("paragraph dedup blockifies per-row and selects firsts by aggregation, not a window") {
    val p = plan("q_doc_paragraph_dedup")
    assert(p.contains("Generate"),
      s"blockify must be a per-row generate:\n${p.linesIterator.take(8).mkString("\n")}")
    // keep-first must stay a min-struct aggregation: a row_number window
    // partitioned by block would single-task corpus-frequent boilerplate
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("block")),
      "first-occurrence selection regressed to a block-partitioned window")
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"), p)
  }

  test("IVF-PQ scans codes only: probed pairs broadcast, no embedding past the checkpoint") {
    val p = plan("q_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"the (query, list) probe table must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "ADC scan must never cross-join the corpus")
    // the ADC candidate cut ranks within each query — never globally
    assert(!p.contains("SinglePartition"), p)
  }

  test("quality model broadcasts the weight table and pre-aggregates term counts") {
    val p = plan("q_doc_quality_model")
    assert(p.contains("BroadcastHashJoin"),
      s"weight join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    // the doc-keyed rollup join may SMJ (two corpus-sized frames), but
    // the TERM join against the 257 weights must never
    assert(!p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("term")),
      "scoring join must not shuffle the exploded token stream against 257 weights")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-(doc,term) counts must map-side combine before the shuffle")
  }

  test("lm perplexity broadcasts the model table and pre-aggregates gram counts") {
    val p = plan("q_doc_lm_perplexity")
    assert(p.contains("BroadcastHashJoin"),
      s"model-table join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      "the lp table must never shuffle the exploded bigram stream")
    // per-(doc,gram) counts and the per-doc Σ both map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
    // the tercile rank is two-phase (quantized-bits buckets), never the
    // old single-partition NTILE window
    assert(!p.contains("SinglePartition"),
      s"tercile regressed to a global window:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__b"),
      s"rank window must partition by the bits bucket: $windowLine")
  }

  test("bm25 broadcasts query terms and idf — postings shuffle, corpus doesn't") {
    // audit the BUILD plan: the catalog query reads the memoized
    // checkpoint (pinned in the triplets audit), which would hide the
    // joins this test exists to pin
    val p = graft.queries.TextQ.bm25RankedRaw(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"query-term and idf joins must both broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("term")),
      "the term joins must never shuffle the exploded token stream")
    assert(!p.contains("CartesianProduct"), p)
    // the rank window partitions by qid — parallel across queries
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("qid")), p)
  }

  test("dsir broadcasts the λ table, combines map-side, and takes ordered") {
    val p = plan("q_doc_dsir")
    assert(p.contains("BroadcastHashJoin"),
      s"λ join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      "the 256-row λ table must never shuffle the exploded gram stream")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-K cut must not plan a global sort")
    // (doc,bucket) counts and the per-doc Σ both map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      p.linesIterator.take(12).mkString("\n"))
  }

  test("split leakage joins keys only — document text never crosses a shuffle") {
    val p = plan("q_split_leakage")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"),
      s"document text crossed a shuffle boundary:\n$exchanges")
    assert(p.contains("Expand"),
      "multi-distinct aggregate should plan one Expand pass")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("temperature mix broadcasts the rate table — the cut runs in the scan") {
    val p = plan("q_doc_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("epoch mix broadcasts the rate table and expands copies in the scan stage") {
    val p = plan("q_doc_epoch_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the copy expansion is a Generate over the broadcast-joined scan,
    // not a shuffle-then-explode
    val gen = p.linesIterator.indexWhere(_.contains("Generate explode"))
    val exch = p.linesIterator.indexWhere(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(gen >= 0, p.linesIterator.take(10).mkString("\n"))
    assert(exch < 0 || exch < gen,
      "explode must run before any shuffle (only the output sort exchanges)")
  }

  test("doremi weights aggregate to #sources rows before any driver work") {
    // the only corpus-scale work is the shared surprisal frame + one
    // doc-bounded join; what the driver folds is the per-source
    // aggregate — assert the collect target is an Aggregate on source
    val df = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"))
    assert(df.queryExecution != null) // session warm
    val out = SparkEntry.queries("q_doc_doremi_weights")(spark, sfDir)
    val n = out.count()
    val nsrc = graft.sources.Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(n == nsrc, s"output must be the domain table itself: $n vs $nsrc")
  }

  test("ngram diversity aggregates partially — distinct counts expand before one exchange each") {
    val p = plan("q_doc_ngram_diversity")
    // count(distinct) lowers to two-level HashAggregate chains, never a
    // row-at-a-time sort-based distinct
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cms filter pass evaluates the sketch in the scan — no join, partial exact count") {
    val p = plan("q_doc_cms_topgrams")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"the literal-map point query must not plan a join:\n${p.linesIterator.take(10).mkString("\n")}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "survivor exact counts must map-side combine before the gram shuffle")
  }

  test("embedding outlier score computes in the scan and lowers to TakeOrderedAndProject") {
    val p = plan("q_emb_outliers")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(6).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"literal-model scoring must be join- and shuffle-free:\n${p.linesIterator.take(10).mkString("\n")}")
  }

  test("pca projection broadcasts the 8-row model into the scan — no pre-sort shuffle") {
    val p = plan("q_emb_pca")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"model cross join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only shuffle Exchange is the final presentation sort's range
    // partitioning (BroadcastExchange is the model broadcast itself)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"projection must fuse into the scan; found:\n${exchanges.mkString("\n")}")
  }

  test("gopher rules compute per-row in the scan — no join, no pre-sort shuffle") {
    val p = plan("q_doc_gopher_rules")
    assert(!p.contains("Join"), p.linesIterator.take(8).mkString("\n"))
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"rule math must fuse into the scan; found:\n${exchanges.mkString("\n")}")
  }

  test("knn graph candidates join keys only — embeddings stay out of the band self-join") {
    // the band-key self-join must see (vec_id, bk) pairs, never the
    // 64-float embedding column (it re-joins only for the rerank)
    val p = optimized("q_emb_knn_graph")
    val joinLine = p.linesIterator.find(_.trim.startsWith("Join")).getOrElse("")
    assert(!joinLine.contains("embedding"),
      s"band self-join must be keys-only:\n$joinLine")
  }

  test("soft dedup aggregates hashes partially and joins back without text payload") {
    val p = plan("q_doc_softdedup")
    // multiplicity count is a partial-then-final hash aggregate on h
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      p.linesIterator.take(10).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"), p)
    // the count side of the join carries the 16-byte hash only — text is
    // consumed by md5 in the scan and never crosses an exchange
    val o = optimized("q_doc_softdedup")
    val aggLine = o.linesIterator.find(_.contains("Aggregate")).getOrElse("")
    assert(aggLine.contains("h") && !aggLine.contains("text"), aggLine)
  }

  test("edit-distance rerank joins keys only — prefixes attach per candidate pair") {
    // pair dedup groups on exactly (doc_a, doc_b): neither the band
    // table payload nor a text column may ride the candidate self-join
    val o = optimized("q_doc_editdist_neardup")
    val dedupLine = o.linesIterator.find(l =>
      l.contains("Aggregate") && l.contains("doc_a") && l.contains("doc_b"))
    assert(dedupLine.isDefined, o.linesIterator.take(8).mkString("\n"))
    assert(!dedupLine.get.contains("text") && !dedupLine.get.contains("pa"),
      s"payload leaked into the candidate join: ${dedupLine.get}")
  }

  test("unimax mix broadcasts the rate table and expands copies in the scan stage") {
    val p = plan("q_doc_unimax_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate join must broadcast:\n${p.linesIterator.take(10).mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val gen = p.linesIterator.indexWhere(_.contains("Generate explode"))
    val exch = p.linesIterator.indexWhere(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(gen >= 0, p.linesIterator.take(10).mkString("\n"))
    assert(exch < 0 || exch < gen,
      "explode must run before any shuffle (only the output sort exchanges)")
  }

  test("prototype pruning windows over cid triples — no vectors, no single partition") {
    val p = plan("q_emb_prune_prototypes")
    assert(!p.contains("SinglePartition"),
      s"per-cluster ranking regressed to a global window:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("cid"), s"window must partition by cid: $windowLine")
    // past the memoized assignment checkpoint only (vec_id, cid, cdist)
    // triples flow — the embedding column must not reappear
    assert(!p.contains("embedding"),
      "embedding payload leaked past the assignment checkpoint")
  }

  test("token-budget selection is two-phase — tier-partitioned window, broadcast offsets") {
    val p = plan("q_doc_token_budget_select")
    assert(!p.contains("SinglePartition"),
      s"budget prefix sum regressed to a global window:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("tier"), s"window must partition by tier: $windowLine")
    assert(p.contains("BroadcastHashJoin"),
      "the <=1001-row tier offset table must broadcast")
  }

  test("debounce windows on the (user, type) key and prunes unused event columns") {
    val p = plan("q_events_debounce")
    assert(!p.contains("SinglePartition"), p)
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("user_id") && windowLine.contains("event_type"),
      s"window must partition by the debounce key: $windowLine")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"),
      s"scan reads the unused props column: $readSchema")
  }

  test("self line-dedup is per-row array work — shuffle-free up to the output sort") {
    val p = plan("q_doc_selfdedup_lines")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(exchanges <= 1, s"more than the output-sort exchange:\n$p")
    assert(!p.contains("Join"), "no join belongs in a per-row scrub")
  }

  test("pii stats aggregate partially — regex counts compute in the scan") {
    val p = plan("q_doc_pii_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      p.linesIterator.take(10).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("SinglePartition"), p)
  }

  test("vocab coverage ranks two-phase — bit-length buckets, no global window") {
    val p = plan("q_doc_vocab_coverage")
    assert(!p.contains("SinglePartition"),
      s"frequency rank regressed to a global window:\n$p")
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("__b"),
      s"rank window must partition by the bit-length bucket: $windowLine")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the <=64-row offset table and 3-row pct table must broadcast")
  }

  test("transitions window on user_id and reduce to the type-pair table") {
    val p = plan("q_events_transitions")
    assert(!p.contains("SinglePartition"), p)
    val windowLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(windowLine.contains("user_id"),
      s"sequence window must partition by user: $windowLine")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      p.linesIterator.take(10).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      "the <=|types| outgoing-total table must broadcast")
  }

  test("boilerplate removal shuffles (doc,pos,hash) triples — text never crosses an exchange") {
    val o = optimized("q_doc_boilerplate_lines")
    // both corpus-scale aggregates key on hash / doc_id with no line text
    val aggLines = o.linesIterator.filter(_.contains("Aggregate")).toSeq
    assert(aggLines.nonEmpty, o.linesIterator.take(8).mkString("\n"))
    aggLines.foreach(l =>
      assert(!l.contains("line") && !l.contains("text#"),
        s"line text leaked into a shuffled aggregate: $l"))
    val p = plan("q_doc_boilerplate_lines")
    assert(!p.contains("SinglePartition") && !p.contains("CartesianProduct"), p)
  }

  test("value histogram is one partial-final aggregate over the scan") {
    val p = plan("q_events_value_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("SinglePartition"), p)
  }

  test("hard negatives filter labels on the shared ranked-edge frame") {
    // labels ride the keyed frame into the ONE shared candidate+rerank
    // pass (rankedPairsFrame), so the cross-label predicate must appear
    // as a plain filter — no second candidate join or rerank of its own
    val p = optimized("q_emb_hard_negatives")
    val txt = p.linesIterator.toSeq
    val labelFilter = txt.indexWhere(l =>
      l.contains("NOT (label") || (l.contains("label") && l.contains("n_label")))
    assert(labelFilter >= 0, s"no cross-label predicate found:\n${txt.take(12).mkString("\n")}")
  }

  test("dedup bias broadcasts the near-dup-sized dropped set over one scan") {
    val p = plan("q_doc_dedup_bias")
    assert(p.contains("BroadcastHashJoin"),
      s"dropped-id set must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    assert(!p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("text")),
      "document text must never shuffle for the audit")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "conditional sums must map-side combine")
  }

  test("stitch pairs join 16-byte endpoint keys only — text stays in the scan") {
    val p = plan("q_doc_stitch_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("text")),
      "text crossed an exchange")
  }

  test("dhash near-dup self-joins 16-bit band keys off the decoded-hash checkpoint") {
    val p = plan("q_media_dhash_neardup")
    assert(p.contains("ExistingRDD"),
      s"band join must read the one-decode-pass checkpoint:\n$p")
    assert(!p.contains("FileScan"), "no corpus re-scan past the decode pass")
    assert(!p.contains("CartesianProduct"), "banding must prevent all-pairs")
  }

  test("containment is a pure filter over the shared candidate-pair checkpoint") {
    val p = plan("q_doc_containment")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("FileScan"),
      s"containment must ride the memoized candidate-pair pass, not re-scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "second metric must not pay a second join")
  }

  test("source overlap moves shingle-md5 keys only and broadcasts the size table") {
    val p = plan("q_doc_source_overlap")
    // pair expansion is array builtins in the agg scan — no doc-level join
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"per-source size table must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    // text is consumed in the scan stage: no exchange carries the text column
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("text")), "text crossed an exchange")
  }

  test("source KL broadcasts corpus bits + source totals over the count partials") {
    val p = plan("q_doc_source_kl")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab/totals joins must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      "the exploded token stream must never SMJ against the vocab table")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-(source,tok) counts must map-side combine before the shuffle")
  }

  test("partition advisor: two-phase prefix sum, no global window, 15-row broadcast") {
    val p = plan("q_doc_partition_advisor")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("[], [")),
      "no empty-partition (single-task) window — the CDF is bucketed")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"threshold table must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality calibrate: score in the scan, rank window partitioned by source") {
    val p = plan("q_doc_quality_calibrate")
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("source")), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("simhash accuracy broadcasts the pair table into the signature checkpoint") {
    val p = plan("q_doc_simhash_accuracy")
    assert(p.contains("ExistingRDD"),
      s"pairs and signatures must come from memoized checkpoints:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "near-dup-sized pair table must broadcast into both sig lookups")
    assert(!p.contains("FileScan"), "no corpus re-scan")
  }

  test("bot cadence: lag window and aggregate share one user_id partitioning") {
    val p = plan("q_events_bot_cadence")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges == 1, s"one shuffle for window+agg, saw $userExchanges:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 1, p)
  }

  test("label propagation rounds join labels against the kNN edge checkpoint only") {
    val p = plan("q_emb_label_prop")
    assert(p.contains("ExistingRDD"),
      s"rounds must read the memoized edge table:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // labels move, embeddings never do: no 'embedding' column crosses
    // an exchange inside the propagation rounds
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("embedding")), p)
  }

  test("c4 rules are one scan — zero shuffles before the output sort") {
    val p = plan("q_doc_c4_rules")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the final ORDER BY may exchange:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"), p)
  }

  test("zipf slope windows the vocab-sized count table by source, never the corpus") {
    val p = plan("q_doc_zipf_slope")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "term counts and regression sums must both map-side combine")
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("source")),
      "rank window must partition by source")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("audience overlap: bottom-k is two-phase salted, pair matrix rides the sketch checkpoint") {
    val p = plan("q_events_audience_overlap")
    assert(p.contains("ExistingRDD"),
      s"pair expansion must read the ≤|types|·k sketch checkpoint:\n$p")
    // every visible window partitions by the pair key — nothing global
    assert(!p.linesIterator.exists(l =>
      l.contains("Window [") && !l.contains("partitionBy") && l.contains("[], [")),
      "no empty-partition (single-task) window")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("retrieval triplets slice the memoized BM25 ranked table — postings join never re-runs") {
    val p = plan("q_doc_retrieval_triplets")
    assert(p.contains("ExistingRDD"),
      s"both triplet sides must read the ranked checkpoint:\n$p")
    assert(!p.contains("FileScan"), "no corpus re-scan past the ranked table")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event paths run every window over ONE user_id partitioning and top-k lowers") {
    val p = plan("q_events_paths")
    val winExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(winExchanges == 1,
      s"sessionize + trigram leads must share one sort shuffle, saw $winExchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-25 must not global-sort")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "path counts must map-side combine")
  }

  test("class separation broadcasts dim stats + centroids — label-sized joins only") {
    val p = plan("q_emb_class_separation")
    assert(p.contains("BroadcastHashJoin"),
      s"dim stats and centroid joins must broadcast:\n${p.linesIterator.take(8).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
    // the exploded code stream must never sort-merge against anything
    assert(!p.contains("SortMergeJoin"),
      "corpus-sized code stream must only meet broadcast tables")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "intra partials must map-side combine")
  }

  test("pagerank iterates keys-only joins off the edge checkpoint — no text, no corpus re-scan") {
    val p = plan("q_doc_pagerank")
    assert(p.contains("ExistingRDD"),
      s"rounds must ride the checkpointed near-dup edge table:\n$p")
    assert(!p.contains("FileScan"), "no corpus re-scan inside the power iteration")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("text")),
      "rank state is (doc_id, rank) longs — text never enters the graph")
    // each round's contribution sum must map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("z-order layout rank is bucket-partitioned with a broadcast offset table") {
    // the rank pipeline moved inside the memoized layout-rows manifest
    // (built once per session×corpus); audit the BUILD plan directly
    val p = graft.queries.OlapQ.layoutRowsBuild(spark, sfDir, hilbert = false)
      .queryExecution.executedPlan.toString
    // the rank window must partition by the z-prefix bucket; the only
    // global (SinglePartition) exchange allowed is the 4-value bounds
    // reduction, which is constant-size at any corpus
    val windowLine = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowLine.contains("__b"),
      s"rank window must partition by the z-prefix bucket: $windowLine")
    assert("SinglePartition".r.findAllIn(p).size <= 1,
      s"only the 1-row bounds reduction may plan a global exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the <=256-row bucket-offset table must broadcast")
    // the catalog queries consume the checkpointed manifest, never
    // re-running the rank
    val q = plan("q_layout_zorder")
    assert(q.contains("ExistingRDD"),
      s"q_layout_zorder must read the memoized manifest:\n$q")
    assert(!q.contains("windowspecdefinition"),
      "the catalog query must not re-run the rank window")
  }

  test("SCD2 build is window-only over the user_id exchange — no change-log self-join") {
    val p = plan("q_events_scd2")
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("Join"),
      s"lag/lead/row_number must replace the naive changes-to-next-changes join:\n$p")
    p.linesIterator.filter(_.contains("Window")).foreach(l =>
      assert(l.contains("user_id"), s"window must partition by user_id: $l"))
  }

  test("triangle count rides the checkpointed kNN edges — no cartesian, no corpus re-scan") {
    val p = plan("q_emb_knn_triangles")
    assert(p.contains("ExistingRDD"),
      s"must consume the memoized kNN graph checkpoint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"), p)
    assert(!p.contains("FileScan"),
      "edges are (vec_id, neighbor_id) longs off the checkpoint — no embedding re-scan")
  }

  // ---- round-9 scale-fix shapes -------------------------------------

  test("kNN ranked pairs score inside the band join — arrays never reach the pair dedup") {
    import spark.implicits._
    // audit the derivation directly (the catalog entry reads the memo);
    // the r9 sf10 killer was embeddings re-joined onto the pair table
    val keyed = Seq(
      (1L, "b0", 0, Array(1f, 0f)), (2L, "b0", 1, Array(0f, 1f)),
      (3L, "b1", 0, Array(1f, 1f)))
      .toDF("vec_id", "bk", "label", "embedding")
    val o = graft.queries.SimilarityQ.buildRankedPairs(keyed)
      .queryExecution.optimizedPlan.toString
    // r11: the cross-band pair dedup is FOLDED INTO the ranking window
    // (duplicates of a pair share identical sort keys, so a lag() marks
    // firsts) — the pair-sized groupBy exchange must NOT reappear
    assert(!o.linesIterator.exists(l =>
        l.contains("Aggregate") && l.contains("neighbor_id")),
      s"pair-sized dedup aggregate returned (one-exchange window fold lost):\n$o")
    val win = o.linesIterator.find(_.contains("Window"))
    assert(win.isDefined, o)
    assert(win.get.contains("vec_id") && win.get.contains("score"),
      s"ranking window must partition by anchor and order by score: ${win.get}")
    assert(!win.get.contains("embedding#") && !win.get.contains("n_emb"),
      s"embedding arrays leaked past the band join into the window: ${win.get}")
    assert("Join Inner".r.findAllIn(o).size == 1,
      s"exactly the band self-join — no post-dedup embedding re-join:\n$o")
  }

  test("interval overlap is a rank sweep — no cell explosion, no pair join") {
    val p = plan("q_events_interval_overlap")
    assert(!p.contains("Generate"),
      s"the grid-cell explode (O(cell²) candidate join) returned:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the two dense prefix tables broadcast onto the merged-event frames
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected the two broadcast offset joins of the two-phase sweep:\n$p")
    assert(!p.contains("SinglePartition"),
      "the global rank must come from bucketed windows, never one task")
  }

  test("stickiness MAU is a span-merge delta sweep — no 28x explode") {
    val p = plan("q_events_stickiness")
    assert(!p.contains("Generate"),
      s"the explode-to-28-observation-days shape returned:\n$p")
    // the one single-partition window runs over the day-grain table
    // (calendar-bounded — a year is 366 rows), and there is only one
    assert("SinglePartition".r.findAllIn(p).size <= 2,
      s"only the day-grain sweep may single-partition:\n$p")
  }

  test("dhash near-dup is exact-dedup-first: distinct-hash pair search, output-sized expansion") {
    val p = plan("q_media_dhash_neardup")
    // the r10 shape funneled every candidate row (165 M at sf10)
    // through a global HashAggregate on (doc_a, doc_b); the r11 shape
    // never materializes a candidate beyond the output, so a
    // pair-level dedup must NOT reappear
    assert(!p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("doc_a") && l.contains("doc_b")),
      s"no pair-level dedup — intra/inter are disjoint and unique by construction:\n$p")
    // the cross-band dedup still exists, but over HASH pairs (h1, h2)
    // — a table bounded by distinct-hash count, not candidate count
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("h1") && l.contains("h2")),
      s"hash-pair dedup on the distinct-hash table must remain:\n$p")
    // inter-hash expansion builds on the tiny hash-pair table:
    // broadcast joins, never a shuffled pair-sized side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"inter-hash expansion must broadcast the hash-pair table:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }
}
