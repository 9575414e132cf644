package graft.catalog

import org.apache.spark.sql.types._

/** Declarative per-column schema + validation metadata — the engine
  * mirror of the reference's Pydantic `ColumnSchema`
  * (src/config/models.py:14-22): SQL type string, required flag,
  * primary key, max_length, min/max range rules.
  */
final case class ColumnSpec(
    name: String,
    sqlType: String,
    required: Boolean = false,
    primaryKey: Boolean = false,
    maxLength: Option[Int] = None,
    min: Option[Double] = None,
    max: Option[Double] = None,
    default: Option[String] = None)

/** Validation block (models.py:25-28). */
final case class ValidationRules(
    allowDuplicates: Boolean = true,
    uniqueKeys: Seq[String] = Nil)

/** One registered dataset (models.py:65-102 + registry.yaml): identity,
  * source type, declared schema, validation rules, indexes.
  */
final case class DatasetSpec(
    key: String,
    datasetId: String,
    tableName: String,
    sourceType: String,
    columns: Seq[ColumnSpec],
    validation: ValidationRules = ValidationRules(),
    indexes: Seq[(String, Seq[String])] = Nil,
    uniqueConstraints: Seq[Seq[String]] = Nil,
    partitionColumns: Seq[String] = Nil) {
  def requiredColumns: Seq[String] = columns.filter(_.required).map(_.name)
}

/** SQL-type-string → Spark type compiler (K3) — the in-flight side of
  * storage.py:73-183's SQLAlchemy table builder. The warehouse is
  * Parquet, so no DDL is generated.
  *
  * Runtime mapping follows SURVEY §1.2: SERIAL→surrogate (storage
  * detail, IntegerType in flight), FLOAT→DoubleType, DATE→DateType,
  * GEOMETRY→StringType carrying WKT (SRID pinned 4326, §7.4).
  */
object SchemaCompiler {

  private val TypeWithArgs = """(?s)([A-Za-z]+)\s*\((.*)\)""".r

  /** Parse a declared SQL type string into the in-flight Spark type. */
  def toSparkType(sqlType: String): DataType = sqlType.trim.toUpperCase match {
    case "INTEGER" | "SERIAL" => IntegerType
    case "TEXT" | "STRING" => StringType
    case "FLOAT" => DoubleType
    case "DATE" => DateType
    case "TIMESTAMP" => TimestampType
    // bare NUMERIC (no precision — the YAML logical "numeric",
    // food config.yaml): pandas to_numeric yields float64 in flight
    case "NUMERIC" => DoubleType
    case TypeWithArgs(base, args) => base match {
      case "VARCHAR" => StringType
      case "NUMERIC" =>
        val ps = args.split(",").map(_.trim.toInt)
        DecimalType(ps(0), if (ps.length > 1) ps(1) else 0)
      case "GEOMETRY" => StringType // WKT in flight (§7.4)
      case _ => StringType
    }
    case "VARCHAR" => StringType
    case other =>
      // config files also use lowercase logical names ("integer",
      // "string", "numeric" — food config.yaml:10-62)
      other.toLowerCase match {
        case "integer" => IntegerType
        case "numeric" => DoubleType
        case _ => StringType
      }
  }
}
