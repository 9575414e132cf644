package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.catalog.{ColumnSpec, DatasetSpec, ValidationRules}
import graft.jobs.IngestJob
import graft.validate.{ValidationReport, Validator}

/** ValidationReport semantics vs the reference's `_validate_schema`
  * (parser.py:77-115): required presence, range warning counts,
  * duplicate rows under unique keys (pandas keep=False counting) — and
  * the equivalence of the dry-run [[Validator.validate]] with the report
  * a writing ingest observes on its write.
  */
class ValidatorSpec extends SparkSpecBase {
  import spark.implicits._

  private val spec = DatasetSpec(
    key = "t", datasetId = "t", tableName = "t", sourceType = "socrata",
    columns = Seq(
      ColumnSpec("k", "VARCHAR(5)", required = true),
      ColumnSpec("pct", "FLOAT", min = Some(0), max = Some(100)),
      ColumnSpec("absent_required", "INTEGER", required = true)),
    validation = ValidationRules(allowDuplicates = false, uniqueKeys = Seq("k")))

  test("reports missing required columns, range counts, and duplicate rows") {
    val df = Seq(
      ("a", -5.0), ("a", 50.0), ("b", 101.0), ("c", 200.0), ("d", 30.0)
    ).toDF("k", "pct")
    val r = Validator.validate(df, spec)
    assert(r.rowCount == 5)
    assert(r.missingRequired == Seq("absent_required"))
    val v = r.rangeViolations.head
    assert(v.column == "pct" && v.belowMin == 1 && v.aboveMax == 2)
    // pandas duplicated(keep=False).sum(): both 'a' rows count
    assert(r.duplicateKeyRows == 2)
    assert(!r.ok)
  }

  test("clean frame passes") {
    val df = Seq(("a", 10.0), ("b", 20.0)).toDF("k", "pct")
    val clean = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))
    val r = Validator.validate(df, clean)
    assert(r.rowCount == 2 && r.ok && r.rangeViolations.isEmpty)
  }

  test("allow_duplicates=true skips the duplicate check (models.py:25-28)") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "pct")
    val lax = spec.copy(
      columns = spec.columns.filterNot(_.name == "absent_required"),
      validation = ValidationRules(allowDuplicates = true, uniqueKeys = Seq("k")))
    assert(Validator.validate(df, lax).duplicateKeyRows == 0)
  }

  test("range rules ignore NULLs (SQL three-valued comparison)") {
    val df = Seq(("a", Some(50.0)), ("b", None), ("c", Some(-1.0)))
      .toDF("k", "pct")
    val clean = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))
    val r = Validator.validate(df, clean)
    assert(r.rangeViolations.head.belowMin == 1)
    assert(r.rangeViolations.head.aboveMax == 0)
  }

  test("empty frame reports zero counts instead of failing on NULL sums") {
    val df = Seq.empty[(String, Double)].toDF("k", "pct")
    val r = Validator.validate(df, spec)
    assert(r.rowCount == 0)
    assert(r.rangeViolations.isEmpty)
    assert(r.duplicateKeyRows == 0)
    assert(r.missingRequired == Seq("absent_required"))
  }

  private val noAbsent = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))

  /** The frames above, plus NULL keys, under the specs they exercise. */
  private def cases: Seq[(String, DataFrame, DatasetSpec)] = Seq(
    ("dirty", Seq(("a", -5.0), ("a", 50.0), ("b", 101.0), ("c", 200.0), ("d", 30.0))
      .toDF("k", "pct"), spec),
    ("clean", Seq(("a", 10.0), ("b", 20.0)).toDF("k", "pct"), noAbsent),
    ("duplicates allowed", Seq(("a", 1.0), ("a", 2.0)).toDF("k", "pct"),
      noAbsent.copy(validation = ValidationRules(allowDuplicates = true, uniqueKeys = Seq("k")))),
    ("no unique keys", Seq(("a", 1.0), ("a", 200.0)).toDF("k", "pct"),
      noAbsent.copy(validation = ValidationRules())),
    ("NULL range values", Seq(("a", Some(50.0)), ("b", None), ("c", Some(-1.0)))
      .toDF("k", "pct"), noAbsent),
    ("NULL keys", Seq((None, 1.0), (None, 2.0), (Some("a"), 3.0), (Some("a"), 4.0))
      .toDF("k", "pct"), noAbsent),
    ("empty", Seq.empty[(String, Double)].toDF("k", "pct"), spec))

  /** The report a writing ingest observes on its table write. */
  private def observedOnWrite(df: DataFrame, s: DatasetSpec, warehouse: String,
                              transform: DataFrame => DataFrame = identity): ValidationReport =
    IngestJob.run(spark, s, df, transform, warehouse).report

  test("report observed on the write equals validate (fresh, merge and append writes)") {
    cases.foreach { case (name, df, s) =>
      val warehouse = Files.createTempDirectory("graft-observed").toString
      val expected = Validator.validate(df, s)
      assert(observedOnWrite(df, s, warehouse) == expected, s"$name: fresh write")
      // second ingest: the upsert merges into the existing table (or
      // appends to it); the report covers the incoming rows only
      assert(observedOnWrite(df, s, warehouse) == expected, s"$name: merge write")
    }
  }

  test("report observed on the write equals validate on the NYC fixture datasets") {
    val warehouse = Files.createTempDirectory("graft-observed").toString
    NycWarehouseFixture.inputs(spark).foreach { in =>
      val expected = Validator.validate(in.transform(in.raw), in.spec)
      assert(observedOnWrite(in.raw, in.spec, warehouse, in.transform) == expected, in.spec.key)
    }
  }
}
