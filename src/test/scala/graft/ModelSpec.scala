package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.model.{ColumnModel, Relation, RelationType}

/** Type/relation model semantics, mirroring the reference's own unit tests
  * (test_adapter.py:259-363) where they exist. */
class ModelSpec extends AnyFunSuite {

  test("relation render + case-insensitive match (relation.py:11-13)") {
    val r = Relation.parse("cat.sch.tbl")
    assert(r.render == "cat.sch.tbl")
    assert(r.matches(Relation(Some("CAT"), Some("Sch"), "TBL")))
    assert(!r.matches(Relation(Some("cat"), Some("sch"), "other")))
    assert(Relation.parse("a.b").schema.contains("a"))
    assert(Relation.parse("t").render == "t")
  }

  test("relation type DDL rendering: '_' -> ' ' (adapters.sql:157-158)") {
    assert(RelationType.MaterializedView.ddl == "materialized view")
    assert(RelationType.fromString("materialized view") ==
      RelationType.MaterializedView)
  }

  test("varchar bounded vs unbounded (column.py:24-60, test_adapter.py:341-363)") {
    val unbounded = ColumnModel("c", "varchar")
    assert(unbounded.stringSize == 2147483646)
    assert(unbounded.stringType == "varchar")
    val bounded = ColumnModel("c", "varchar(10)")
    assert(bounded.stringSize == 10)
    assert(bounded.stringType == "varchar(10)")
    assert(bounded.canExpandTo(ColumnModel("c", "varchar(20)")))
    assert(!ColumnModel("c", "varchar(20)")
      .canExpandTo(ColumnModel("c", "varchar(5)")))
    // unbounded is already max-size: nothing expands it
    assert(!unbounded.canExpandTo(ColumnModel("c", "varchar(20)")))
  }

  test("type classes: is_integer / is_float / is_numeric (column.py:32-49)") {
    for (t <- Seq("tinyint", "smallint", "integer", "int", "bigint")) {
      assert(ColumnModel("c", t).isInteger, t)
      assert(!ColumnModel("c", t).isFloat && !ColumnModel("c", t).isNumeric, t)
    }
    for (t <- Seq("real", "double", "decimal(10,2)", "varchar"))
      assert(!ColumnModel("c", t).isInteger, t)
    assert(ColumnModel("c", "double").isFloat)
    assert(ColumnModel("c", "decimal(10,2)").isNumeric)
  }

  test("decimal parse (column.py:93-107)") {
    val d = ColumnModel("c", "decimal(28,6)")
    assert(d.numericPrecision.contains(28))
    assert(d.numericScale.contains(6))
    assert(d.sparkType == DecimalType(28, 6))
  }

  test("type label translation (column.py:15-18, datatypes.sql)") {
    assert(ColumnModel.translateLabel("STRING") == "VARCHAR")
    assert(ColumnModel.translateLabel("FLOAT") == "DOUBLE")
    assert(ColumnModel.translateLabel("NUMERIC") == "DECIMAL(28,6)")
    assert(ColumnModel.translateLabel("INT") == "INTEGER")
  }

  test("trino<->spark type mapping (SURVEY §1.2)") {
    assert(ColumnModel.toSparkType("varchar(10)") == StringType)
    assert(ColumnModel.toSparkType("json") == StringType)
    assert(ColumnModel.toSparkType("varbinary") == BinaryType)
    assert(ColumnModel.toSparkType("double precision") == DoubleType)
    assert(ColumnModel.toSparkType("timestamp with time zone") == TimestampType)
    assert(ColumnModel.toSparkType("array(varchar)") == ArrayType(StringType))
    assert(ColumnModel.fromSparkType(DecimalType(28, 6)) == "decimal(28,6)")
    assert(ColumnModel.fromSparkType(ArrayType(LongType)) == "array(bigint)")
  }

  test("seed type inference mirrors agate rules (impl.py:52-66, test_adapter.py:283-338)") {
    // the reference's golden: mixed decimal column -> DOUBLE, pure ints -> INTEGER
    assert(ColumnModel.inferSeedType(Seq("1", "2", "3")) == "INTEGER")
    assert(ColumnModel.inferSeedType(Seq("1.5", "2", "3")) == "DOUBLE")
    assert(ColumnModel.inferSeedType(Seq("a", "1")) == "VARCHAR")
    assert(ColumnModel.inferSeedType(Seq("2024-01-01")) == "DATE")
    assert(ColumnModel.inferSeedType(
      Seq("2024-01-01 10:00:00", "2024-01-02")) == "TIMESTAMP")
    assert(ColumnModel.inferSeedType(Seq("true", "FALSE")) == "BOOLEAN")
    assert(ColumnModel.inferSeedType(Seq.empty) == "VARCHAR")
  }
}
