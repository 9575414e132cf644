package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reusable relational operators mirroring the reference's transform
  * surface (SURVEY.md §2.3–2.5). Each is a `DataFrame => DataFrame`
  * (or Column) combinator designed for `df.transform(...)` chains, so
  * the whole pipeline stays one lazy Catalyst plan: projections prune,
  * filters push down to the scan, and nothing materializes early.
  *
  * Reference provenance cited per op (file:line in /root/reference).
  */
object Ops {

  /** P1 — drop metadata columns by prefix (SODA `:id`, `:version`, …).
    * Ref: datasets/food_supply_gap/transformer.py:28-30.
    */
  def dropByPrefix(prefix: String)(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith(prefix)).toIndexedSeq: _*)

  /** P2 — bulk rename via map; missing sources are ignored (pandas
    * `rename` semantics). Ref: datasets/zillow_zori/transformer.py:32.
    */
  def renameAll(renames: Map[String, String])(df: DataFrame): DataFrame =
    df.withColumnsRenamed(renames)

  /** P3 — column-name standardization: lowercase, strip non-word chars,
    * whitespace→underscore. Ref: datasets/base.py:73-90.
    */
  def normalizeName(c: String): String =
    c.trim.toLowerCase
      .replaceAll("\\s+", "_")
      .replaceAll("[^0-9a-z_]", "")
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  /** P5 — ingestion metadata columns (lit dataset id + timestamp).
    * Ref: datasets/base.py:58-71.
    */
  def withIngestionMetadata(datasetId: String)(df: DataFrame): DataFrame =
    df.withColumn("dataset_id", lit(datasetId))
      .withColumn("ingestion_timestamp", current_timestamp())

  /** P6 — numeric coercion, null on parse failure (pandas
    * `to_numeric(errors='coerce')`). Ref: food transformer.py:54-60.
    *
    * Integral targets take a digit-guarded path (r14, guide §1.2 "per-
    * task work"): Spark's TRY-mode cast only reuses the non-throwing
    * legacy cast for String→Fractional and String→Datetime
    * (`Cast.canUseLegacyCastForTryCast`), so String→Integral constructs
    * and discards a `NumberFormatException` PER unparseable row —
    * measured ~8 µs/row, 1.2 s of the 1.27 s q_try_cast at sf0.1 and
    * linear in corpus size. A value no integral cast can ever accept
    * (ANSI integral literals always contain an ASCII digit; boolean
    * true/false are the one digit-free castable input) short-circuits
    * to the NULL `try_cast` would have produced, without the throw. The
    * guard ACCEPTS a superset of castable strings — accepted rows still
    * go through `try_cast`, so semantics are bit-identical (proved
    * exhaustively in CoerceNumericEquivalenceSpec).
    *
    * INPUT CONTRACT (r15): `col` is referenced in both the guard's
    * condition and the try_cast branch, and codegen does NOT eliminate
    * the conditional duplicate — so `col` must be DETERMINISTIC (a
    * non-deterministic input could diverge between the two
    * evaluations) and CHEAP (an attribute reference or a trivial
    * expression). An expensive input — get_json_object, a regex
    * extract — must be pre-projected into its own column first
    * (q_events_json_props pattern; measured +99% at sf10 inline,
    * BENCH_NOTES.md, round 15).
    */
  def coerceNumeric(col: Column, to: DataType = DoubleType): Column = to match {
    case ByteType | ShortType | IntegerType | LongType =>
      when(col.cast(StringType).rlike("[0-9]|(?i)(true|false)"), col.try_cast(to))
    case _ => col.try_cast(to)
  }

  /** P8 — out-of-range invalidation: values outside [lo, hi] → NULL
    * (reference nulls bad percentages). Ref: food transformer.py:63-68.
    */
  def rangeInvalidate(c: Column, lo: Double, hi: Double): Column =
    when(c >= lo && c <= hi, c)

  /** P9 — sentinel invalidation (Census negative sentinels → NULL).
    * Ref: datasets/census_acs/transformer.py:29-33.
    */
  def sentinelInvalidate(c: Column): Column = when(c >= 0, c)

  /** P11 — derived rate with explicit divide-by-zero → NULL (pinned;
    * pandas would produce inf). Ref: census_acs transformer.py:36-38.
    */
  def derivedRate(num: Column, den: Column, scale: Int = 2): Column =
    round(num / when(den =!= 0, den) * 100, scale)

  /** W1 — latest-per-group (argmax). The reference sorts desc then
    * takes first-per-key (zillow transformer.py:26-29); the
    * deterministic Spark form is a row_number window with explicit
    * tie-breaks. One shuffle on the group keys; at 100 TB this is the
    * canonical "dedup to latest snapshot" pattern and SMJ/partial-agg
    * friendly.
    */
  def latestPerGroup(keys: Seq[String], order: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W2 — keyed dedup keep-"last". pandas keep='last' depends on frame
    * row order; the deterministic engine version keeps the row that is
    * maximal under `order`. Ref: food transformer.py:75.
    */
  def dedupKeepLast(keys: Seq[String], order: Seq[Column])(df: DataFrame): DataFrame =
    latestPerGroup(keys, order.map(_.desc))(df)

  /** Zillow wide→long unpivot: one column per month → (id, date, value)
    * rows. Ref: zillow transformer.py:12-24. Spark `unpivot` keeps this
    * a narrow streaming-friendly Generate, no shuffle.
    */
  def unpivotToLong(ids: Seq[String], valueCols: Seq[String],
                    varName: String, valName: String)(df: DataFrame): DataFrame =
    df.unpivot(ids.map(col).toArray, valueCols.map(col).toArray, varName, valName)

  /** O3 — top-k with total tie-break order (TakeOrderedAndProject:
    * per-partition heap + single reduce, no full sort at scale).
    * Ref: README.md:334-339.
    */
  def topK(k: Int, order: Seq[Column])(df: DataFrame): DataFrame =
    df.orderBy(order.toIndexedSeq: _*).limit(k)

  /** A4 — duplicate-key detection (returns offending keys + counts).
    * Ref: src/ingestion/parser.py:107-113.
    */
  def duplicateKeys(keys: Seq[String])(df: DataFrame): DataFrame =
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** A5 — out-of-range counts per rule (single pass, map-side combine).
    * Ref: parser.py:92-105.
    */
  def outOfRangeCounts(rules: Seq[(String, Double, Double)])(df: DataFrame): DataFrame = {
    val aggs = rules.flatMap { case (c, lo, hi) =>
      Seq(
        sum(when(col(c) < lo, 1).otherwise(0)).as(s"${c}_below_min"),
        sum(when(col(c) > hi, 1).otherwise(0)).as(s"${c}_above_max"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** C3 — choropleth-style binning: piecewise breakpoints → bin index.
    * A `when` chain (whole-stage-codegen'd) rather than ML Bucketizer,
    * so it stays a pure Catalyst expression. Ref: viz/src/App.jsx:162-253.
    */
  def binByBreaks(c: Column, breaks: Seq[Double]): Column = {
    // bin i  <=>  breaks(i) <= c < breaks(i+1); below first → 0; >= last → breaks.size-1
    val indexed = breaks.zipWithIndex.drop(1)
    indexed.foldLeft(lit(0)) { case (acc, (b, i)) =>
      when(c >= b, i).otherwise(acc)
    }
  }

  /** C5 — threshold classification (when-chain). Ref: Dashboard.jsx:60-64.
    * Ascending fold so the highest threshold ends up outermost
    * (`c >= hi ? hiLabel : (c >= lo ? loLabel : default)`).
    */
  def classify(c: Column, thresholds: Seq[(Double, String)], default: String): Column =
    thresholds.sortBy(_._1).foldLeft(lit(default)) { case (acc, (t, label)) =>
      when(c >= t, label).otherwise(acc)
    }

  /** Skew-safe two-phase aggregation: when the group keys are few/hot
    * (at 100 TB a 5-value `event_type` key funnels everything through
    * 5 reducers), salt the first shuffle with `pmod(hash(saltSource),
    * buckets)` so partials spread over `keys × buckets` reducers, then
    * merge the partials in a second (tiny) shuffle. Exact for
    * re-aggregable metrics — sum/count are associative (decimal sums
    * stay bit-exact). AQE's skew handling covers *join* skew; this is
    * the aggregation-side counterpart.
    */
  def saltedSumCount(keys: Seq[String], saltSource: Column, buckets: Int,
                     valueCol: Column, sumName: String, countName: String)(
                      df: DataFrame): DataFrame =
    df.withColumn("__salt", pmod(hash(saltSource), lit(buckets)))
      .groupBy((keys :+ "__salt").map(col).toIndexedSeq: _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcount"))
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(sum(col("__psum")).as(sumName), sum(col("__pcount")).as(countName))

  /** As-of join (left row ⟵ latest right row with the same key and
    * rightTs ≤ leftTs) — composed scalably from existing operators:
    * tag both sides, UNION, one shuffle on (key), and a keyed window
    * whose `last(ignoreNulls)` carries each right payload forward to
    * the left rows that follow it in time. No range/theta join, no
    * nested loop: wall-clock is one sort-merge per key group, the same
    * plan a native as-of operator would want at 100 TB.
    *
    * Right timestamps must be unique per key (pre-dedup with W1 if
    * not); ties between a left and right row at the SAME timestamp
    * match (≤, the standard as-of convention).
    *
    * The whole right payload travels as ONE struct carried by a single
    * `last(ignoreNulls)`: carrying columns independently would let a
    * NULL in one payload column backfill from an OLDER right row,
    * stitching the output together from different right rows.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               payload: Seq[String]): DataFrame = {
    val rTagged = right
      .select(col(key), col(rightTs).as("__ts"),
        struct(payload.map(col).toIndexedSeq: _*).as("__payload"))
      .withColumn("__side", lit(0))
    val payloadType = rTagged.schema("__payload").dataType
    // left AFTER right at equal ts in the window order → ≤ matches
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__payload",
      last(col("__payload"), ignoreNulls = true).over(w))
    val unpacked = payload.foldLeft(carried) { (df, p) =>
      df.withColumn(p, col("__payload").getField(p))
    }
    unpacked.filter(col("__side") === 1).drop("__ts", "__side", "__payload")
  }

  /** Binned range join: match left rows to right intervals
    * ([lo, hi], inclusive) without a nested-loop/theta join. Both sides
    * key by coarse bins of width `binWidth` (intervals explode into
    * every bin they overlap), a plain equi-join on the bin meets
    * candidates, and the exact BETWEEN filter reranks. At 100 TB this
    * turns an O(|L|·|R|) broadcast nested loop into a shuffle join
    * whose cost tracks the true match density — the standard spatial/
    * interval binning trick.
    */
  def rangeJoinBinned(left: DataFrame, valueCol: String,
                      right: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    val lBinned = left.withColumn("__bin",
      floor(col(valueCol) / binWidth).cast("long"))
    val rBinned = right.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    lBinned.join(rBinned, Seq("__bin"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bin")
  }
}
