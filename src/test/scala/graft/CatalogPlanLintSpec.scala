package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, GlobalLimitExec, InputAdapter, LocalLimitExec, LocalTableScanExec, ProjectExec, RangeExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Catalog-WIDE plan linter (round-10 verdict #1): walks the physical
  * plan of every `SparkEntry.queries` entry and fails on the
  * scale-killer signatures that previously lived only in ~60
  * hand-picked PlanAuditSpec pins — so a NEW query cannot ship an
  * unaudited single-partition window or an accidental cross join and
  * stay green until an sf10 sweep finds it.
  *
  * Signatures (each violation = (query, code, detail)):
  *
  *   - `cartesian`: any CartesianProductExec. All-pairs over
  *     corpus-sized inputs is the canonical 100 TB killer.
  *   - `bnlj-unbounded`: BroadcastNestedLoopJoinExec whose BUILD side
  *     is not provably tiny. Provably tiny = the build subtree's
  *     row-bound is statically ≤ [[maxTinyRows]]: an ungrouped (global)
  *     aggregate (≤1 row), a LocalTableScan/Range with that many rows,
  *     or a Limit that small. `crossJoin(broadcast(1-row agg))` — the
  *     catalog's scalar-fanout idiom — passes; a non-equi join that
  *     silently broadcasts a corpus-sized side fails.
  *   - `single-partition`: a ShuffleExchange to SinglePartition whose
  *     effective consumer (skipping Sort/Project/Filter/codegen
  *     wrappers) is NOT a bounded reduction. Bounded reductions —
  *     ungrouped aggregates (one row per upstream partition enters the
  *     exchange) and Limit/TakeOrdered — are how distributed plans
  *     legitimately end; an unpartitioned Window or a growing global
  *     Sort mid-plan is how they die at 100×.
  *   - `window-no-partition`: WindowExec / WindowGroupLimitExec with an
  *     empty partitionSpec — serializes the whole input through one
  *     task unless the input is bounded by construction.
  *
  * The allow-list below carries the boundedness argument for each
  * accepted occurrence and is itself linted: an entry that no longer
  * fires fails the suite as stale, so the list can only shrink unless
  * a new entry arrives WITH its justification.
  *
  * The lint session runs with AQE off so `executedPlan` is the full
  * statically-planned tree (exchanges visible, no AdaptiveSparkPlan
  * leaf wrapper). AQE can only improve on what this audits.
  */
class CatalogPlanLintSpec extends SparkSpecBase {

  private val maxTinyRows = 1024L

  /** One allow-list entry = one justified IDIOM: the signature code it
    * accepts, the exact queries it covers, and the boundedness argument.
    * Keep ≤ 5 entries; every (entry × query) must still fire or the
    * suite fails it as stale.
    */
  private case class Allow(code: String, queries: Set[String], why: String)

  private val allowed: Seq[Allow] = Seq(
    Allow("window-no-partition",
      Set("q_events_stickiness"),
      "delta-sweep running sum over the CALENDAR-grain day table: one row " +
        "per day — cardinality grows with the calendar, not data volume " +
        "(the interval-overlap sweep's twin site avoids the window via a " +
        "≤8192-row driver prefix). Design notes in EventsQ; hand pin in " +
        "PlanAuditSpec"),
    Allow("single-partition",
      Set("q_events_stickiness"),
      "the same sweep site: the SinglePartition exchange feeds the " +
        "bounded day-grain window above"),
    Allow("bnlj-unbounded",
      Set("q_ann_bruteforce", "q_ann_quantized", "q_emb_ann_recall",
        "q_emb_matryoshka", "q_emb_decontam", "q_embedding_neardup",
        "q_emb_ivf_frontier"),
      "fixed-query-set broadcast idiom: the build side is the embeddings " +
        "table filtered to a CONSTANT id set (nQueries probe vectors / the " +
        "benchmark eval set / the disclosed exact-oracle sample), " +
        "explicitly broadcast so ONE corpus scan scores all probes — the " +
        "100 TB shape for brute-force rerank. The filter bound is " +
        "semantic (unique vec_id < const), invisible to a static row " +
        "bound. Production ANN twins (lsh/ivf/pq) band-join instead"),
    Allow("bnlj-unbounded",
      Set("q_events_audience_overlap", "q_events_wau_sketch"),
      "calendar-bounded sketch broadcast: the build side is a per-day " +
        "bottom-k=64 KMV cut (≤64 rows × days, grows with the calendar), " +
        "broadcast into a day-range join to merge trailing windows")
  )

  // lint on a dedicated session with AQE off: the adaptive wrapper is a
  // leaf node that hides the tree from traversal, and the static plan
  // is the scale contract (AQE only re-plans it upward)
  private lazy val lint = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Static row-bound of a build-side subtree, if provably tiny. */
  private def tinyBound(p: SparkPlan): Option[Long] = p match {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => Some(1L)
    case l: LocalTableScanExec => Some(l.rows.size.toLong)
    case r: RangeExec => Some(r.numElements.toLong)
    case l: GlobalLimitExec => Some(l.limit.toLong)
    case l: CollectLimitExec => Some(l.limit.toLong)
    case l: LocalLimitExec => Some(l.limit.toLong)
    case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
    case u: UnionExec =>
      // union CONCATENATES: the bound is the sum of child bounds — the
      // generic product case below under-counts it (k one-row sides:
      // product = 1, actual = k), and a lint whose bound can
      // under-count will someday pass a plan it should flag (r10
      // verdict #3a)
      val bs = u.children.map(tinyBound)
      if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
    case other if other.children.nonEmpty =>
      // pass-through/unary wrappers preserve or shrink a bound; a join
      // of two tiny sides is at most the product
      val bs = other.children.map(tinyBound)
      if (bs.forall(_.isDefined)) Some(bs.flatten.product) else None
    case _ => None
  }

  private def isPassThrough(p: SparkPlan): Boolean = p match {
    case _: SortExec | _: ProjectExec | _: FilterExec |
         _: WholeStageCodegenExec | _: InputAdapter => true
    case _ => false
  }

  /** Walk one plan tree (and its subquery plans), collecting
    * (code, detail) violations. `parents` is innermost-first.
    */
  private def violations(root: SparkPlan): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def node(p: SparkPlan): String = p.getClass.getSimpleName
    def walk(p: SparkPlan, parents: List[SparkPlan]): Unit = {
      p match {
        case _: CartesianProductExec =>
          out += (("cartesian", "CartesianProduct in plan"))
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
            case _ => b.right
          }
          tinyBound(build) match {
            case Some(n) if n <= maxTinyRows => ()
            case bound => out += (("bnlj-unbounded",
              s"BNLJ build side ${node(build)} bound=$bound"))
          }
        case w: WindowExec if w.partitionSpec.isEmpty =>
          out += (("window-no-partition", "WindowExec with empty partitionSpec"))
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          out += (("window-no-partition",
            "WindowGroupLimit with empty partitionSpec"))
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          val consumer = parents.dropWhile(isPassThrough).headOption
          val ok = consumer.exists {
            case a: BaseAggregateExec => a.groupingExpressions.isEmpty
            case _: GlobalLimitExec | _: CollectLimitExec |
                 _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
            case _ => false
          }
          if (!ok) out += (("single-partition",
            s"Exchange SinglePartition feeds ${consumer.map(node).getOrElse("<root>")}"))
        case _ => ()
      }
      p.children.foreach(walk(_, p :: parents))
      p.subqueries.foreach(walk(_, Nil))
    }
    walk(root, Nil)
    out.result()
  }

  test("every catalog query plans free of scale-killer signatures (allow-list ≤ 5, justified)") {
    val prepares = SparkEntry.prepares
    val found = SparkEntry.catalog.sortBy(_.name).flatMap { q =>
      try prepares.get(q.name).foreach(p => p(lint, sfDir))
      catch { case _: Throwable => () }
      val df = q.fn(lint, sfDir)
      violations(df.queryExecution.executedPlan)
        .map { case (code, detail) => (q.name, code, detail) }
    }
    def covered(n: String, c: String): Boolean =
      allowed.exists(a => a.code == c && a.queries(n))
    val bad = found.filterNot { case (n, c, _) => covered(n, c) }
    assert(bad.isEmpty,
      "unaudited scale-killer signatures (add the fix, or an allow-list " +
        "entry WITH its boundedness argument):\n" +
        bad.map { case (n, c, d) => s"  $n [$c] $d" }.mkString("\n"))
    // the allow-list may not rot: every (entry x query) must still fire
    val fired = found.map { case (n, c, _) => (n, c) }.toSet
    val stale = allowed.flatMap(a => a.queries.collect {
      case q if !fired((q, a.code)) => (q, a.code)
    })
    assert(stale.isEmpty,
      s"stale allow-list entries (site no longer plans this way — remove): $stale")
    assert(allowed.size <= 5, "allow-list must stay ≤ 5 entries")
    info(s"${SparkEntry.catalog.size} plans linted; " +
      s"${found.size} allow-listed occurrences: " +
      found.map { case (n, c, _) => s"$n[$c]" }.distinct.mkString(", "))
  }

  test("tinyBound SUMS union children: a union-build BNLJ past the cap is flagged") {
    // regression for the r10 under-count: the generic multi-child case
    // bounded a subtree by the PRODUCT of child bounds — correct for
    // joins, wrong for Union (1024-row side × 1-row side: product
    // 1024 ≤ cap, actual 1025 > cap). A lint whose bound can
    // under-count will someday pass a plan it should flag.
    import org.apache.spark.sql.functions.{broadcast, expr}
    def bnlj(aLimit: Int, bLimit: Int) = {
      val build = lint.range(5000).limit(aLimit)
        .union(lint.range(5000).limit(bLimit))
        .withColumnRenamed("id", "bid")
      lint.range(10).join(broadcast(build), expr("id >= bid"))
    }
    val over = violations(bnlj(1024, 1).queryExecution.executedPlan)
    assert(over.exists(_._1 == "bnlj-unbounded"),
      s"union build of 1024+1 rows exceeds maxTinyRows=$maxTinyRows and must flag; got $over")
    val under = violations(bnlj(512, 1).queryExecution.executedPlan)
    assert(!under.exists(_._1 == "bnlj-unbounded"),
      s"union build of 512+1 rows is within the cap and must pass; got $under")
  }
}
