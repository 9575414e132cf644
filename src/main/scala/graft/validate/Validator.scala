package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.DatasetSpec

/** Range-rule violation counts for one column. */
final case class RangeViolation(column: String, belowMin: Long, aboveMax: Long)

/** Post-transform validation result — the engine mirror of the
  * reference's `_validate_schema` (src/ingestion/parser.py:77-115):
  * required-column presence, min/max range WARNING counts (violations
  * don't fail the pipeline, matching reference behavior), and
  * duplicate detection on the declared unique keys.
  */
final case class ValidationReport(
    rowCount: Long,
    missingRequired: Seq[String],
    rangeViolations: Seq[RangeViolation],
    duplicateKeyRows: Long) {
  def ok: Boolean = missingRequired.isEmpty && duplicateKeyRows == 0
}

object Validator {

  /** Validate a frame against its DatasetSpec in one job: the report's
    * metrics (below) aggregated over the frame. The dry-run path; a
    * writing ingest uses [[observed]] instead, so validation rides on
    * the write.
    */
  def validate(df: DataFrame, spec: DatasetSpec): ValidationReport = {
    val m = new Metrics(df, spec)
    val row = m.framed.agg(m.columns.head, m.columns.tail: _*).head()
    m.report(row.getValuesMap[Any](row.schema.fieldNames))
  }

  /** `df` with the report's metrics attached as a `Dataset.observe`, so
    * the action that consumes the returned frame (the upsert or append
    * write) computes them in its own pass. The returned function reads
    * the report; call it only after that action has returned (it waits
    * for the metrics). The duplicate count's window partitions on the
    * unique keys, so an upsert on the same keys reuses its exchange.
    *
    * When Spark proves the observed input empty it may prune the
    * observation from the plan, and no metrics arrive; the report then
    * comes from [[validate]], one job over a frame with no rows.
    */
  def observed(df: DataFrame, spec: DatasetSpec): (DataFrame, () => ValidationReport) = {
    val m = new Metrics(df, spec)
    val obs = Observation()
    val out = m.framed.observe(obs, m.columns.head, m.columns.tail: _*).drop(KeyCount)
    (out, () => {
      val values = obs.get
      if (values.isEmpty) validate(df, spec) else m.report(values)
    })
  }

  private val KeyCount = "__key_count"

  /** The one definition both paths share. Required-column presence is
    * schema-only; row count and every range rule are conditional sums;
    * the duplicate check counts rows whose unique key occurs more than
    * once (pandas duplicated(keep=False).sum() semantics,
    * parser.py:107-113) from a per-key count window. A sum over no rows
    * is NULL, which reads as 0.
    */
  private final class Metrics(df: DataFrame, spec: DatasetSpec) {
    private val present = df.columns.toSet
    private val missing = spec.requiredColumns.filterNot(present.contains)
    private val ranged = spec.columns.filter(c =>
      present.contains(c.name) && (c.min.isDefined || c.max.isDefined))
    private val keys = spec.validation.uniqueKeys
    private val checkDuplicates = !spec.validation.allowDuplicates && keys.nonEmpty &&
      keys.forall(present.contains)

    val framed: DataFrame =
      if (!checkDuplicates) df
      else df.withColumn(KeyCount,
        count(lit(1)).over(Window.partitionBy(keys.map(col).toIndexedSeq: _*)))

    private def countIf(cond: Option[Column], name: String): Column =
      sum(when(cond.getOrElse(lit(false)), 1)).as(name)

    val columns: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
        ranged.flatMap(c => Seq(
          countIf(c.min.map(col(c.name) < _), s"${c.name}__below"),
          countIf(c.max.map(col(c.name) > _), s"${c.name}__above"))) ++
        (if (checkDuplicates) Seq(countIf(Some(col(KeyCount) > 1), "__dups")) else Nil)

    def report(values: Map[String, Any]): ValidationReport = {
      def n(name: String): Long = values(name) match {
        case null => 0L
        case v => v.asInstanceOf[Long]
      }
      val violations = ranged
        .map(c => RangeViolation(c.name, n(s"${c.name}__below"), n(s"${c.name}__above")))
        .filter(v => v.belowMin > 0 || v.aboveMax > 0)
      ValidationReport(n("__n"), missing, violations,
        if (checkDuplicates) n("__dups") else 0L)
    }
  }
}
