package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Registry, SchemaCompiler}

/** K3 — type-string parsing (engine mirror of storage.py:73-183). */
class SchemaCompilerSpec extends AnyFunSuite {

  test("SQL type strings map to the documented Spark types (SURVEY §1.2)") {
    assert(SchemaCompiler.toSparkType("INTEGER") == IntegerType)
    assert(SchemaCompiler.toSparkType("SERIAL") == IntegerType)
    assert(SchemaCompiler.toSparkType("VARCHAR(20)") == StringType)
    assert(SchemaCompiler.toSparkType("TEXT") == StringType)
    assert(SchemaCompiler.toSparkType("NUMERIC(12, 2)") == DecimalType(12, 2))
    assert(SchemaCompiler.toSparkType("NUMERIC(5,2)") == DecimalType(5, 2))
    assert(SchemaCompiler.toSparkType("FLOAT") == DoubleType)
    assert(SchemaCompiler.toSparkType("DATE") == DateType)
    assert(SchemaCompiler.toSparkType("TIMESTAMP") == TimestampType)
    // geometry travels as WKT strings (§7.4)
    assert(SchemaCompiler.toSparkType("GEOMETRY('MULTIPOLYGON', srid=4326)") == StringType)
    // lowercase logical names from the YAML configs (food config.yaml);
    // bare NUMERIC = pandas float64 in flight
    assert(SchemaCompiler.toSparkType("integer") == IntegerType)
    assert(SchemaCompiler.toSparkType("numeric") == DoubleType)
    assert(SchemaCompiler.toSparkType("NUMERIC") == DoubleType)
    assert(SchemaCompiler.toSparkType("string") == StringType)
  }

  test("all five registered datasets compile to schemas") {
    assert(Registry.all.size == 5)
    Registry.all.values.foreach { spec =>
      assert(spec.columns.nonEmpty, spec.key)
      spec.columns.foreach(c => SchemaCompiler.toSparkType(c.sqlType))
    }
  }
}
