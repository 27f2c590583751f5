package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.{InferredSchema, SchemaYaml}
import graft.types.AType
import graft.types.AType._

/** `!schema` YAML round-trip compatibility
  * (mongo2pq/schema.py:87-108 dump, 173-202 load) — SURVEY.md §5.2. */
class SchemaYamlSpec extends AnyFunSuite {

  private def fixturePath(name: String): java.nio.file.Path = {
    val url = getClass.getResource(s"/$name")
    java.nio.file.Paths.get(url.toURI)
  }

  test("load the reference dump format with every alias (FIXTURES.md B3)") {
    val s = SchemaYaml.loadFile(fixturePath("telemetry.yaml"))
    assert(s.name == "telemetry")
    assert(s.fieldMap("_id") == AString)
    assert(s.fieldMap("telemetry_snapshot_time") == ATimestampS)
    assert(s.fieldMap("numeric_id") == AInt64)
    assert(s.fieldMap("flap_orientation") == AFloat64)
    assert(s.fieldMap("active") == ABool)
    assert(s.fieldMap("small_int") == AInt32)
    assert(s.fieldMap("payload") == ABinary)
    assert(s.fieldMap("created_date") == ADate32)
    // field order preserved (schema.py dumps with sort_keys=False)
    assert(s.fields.head._1 == "_id")
  }

  test("unknown alias raises SchemaParseError so callers can fall back (main.py:64-70)") {
    intercept[SchemaYaml.SchemaParseError] {
      SchemaYaml.loadFile(fixturePath("telemetry_broken.yaml"))
    }
    intercept[SchemaYaml.SchemaParseError] {
      SchemaYaml.load("just a scalar")
    }
  }

  test("dump -> load round-trips every lattice type") {
    val schema = InferredSchema("roundtrip", Vector(
      "a" -> AInt8, "b" -> AInt16, "c" -> AInt32, "d" -> AInt64,
      "e" -> AUInt8, "f" -> AUInt16, "g" -> AUInt32, "h" -> AUInt64,
      "i" -> AFloat16, "j" -> AFloat32, "k" -> AFloat64,
      "l" -> ADate32, "m" -> ADate64, "n" -> ATimestampS,
      "o" -> ABool, "p" -> AString, "q" -> ABinary,
      "r" -> AList(AFloat32)))
    val text = SchemaYaml.dump(schema)
    assert(text.startsWith("!schema\n"))
    val back = SchemaYaml.load(text)
    assert(back.name == schema.name)
    assert(back.fields == schema.fields)
  }

  test("dump -> load round-trips nested structs, names with alias punctuation included") {
    val inner = AStruct(Vector("k" -> AInt64, "a, b: <c>" -> AString, "tick`" -> AList(ABool), "" -> ADate32))
    val schema = InferredSchema("nested", Vector("s" -> inner, "l" -> AList(inner), "e" -> AStruct(Vector.empty),
      "plain" -> AStruct(Vector("x y" -> AFloat64))))
    assert(SchemaYaml.load(SchemaYaml.dump(schema)).fields == schema.fields)
    // plain names print as pyarrow prints them
    assert(schema.fieldMap("plain").alias == "struct<x y: double>")
  }

  test("YAML-1.1 reserved plain scalars are quoted so names round-trip (PyYAML parity)") {
    // bare `yes`/`true`/`null`/`on`/`123`/`1.5`/`2024-01-01` would
    // re-parse as bool/null/number/date and corrupt the field name;
    // PyYAML quotes them on dump and so must we
    val reserved = Vector("yes", "no", "true", "False", "null", "on", "OFF",
      "123", "1.5", "2024-01-01", "y", "N")
    val schema = InferredSchema("tricky", reserved.map(_ -> (AInt32: AType)))
    val back = SchemaYaml.load(SchemaYaml.dump(schema))
    assert(back.fields.map(_._1) == reserved)
    // ordinary names still dump unquoted (reference files stay diffable)
    assert(SchemaYaml.dump(InferredSchema("t", Vector("plain_name" -> AInt32)))
      .contains("plain_name: int32"))
  }

  test("dumpToFile writes <name>.yaml into the destination (schema.py:102-108)") {
    val dir = Files.createTempDirectory("schemayaml")
    val schema = InferredSchema("mycoll", Vector("x" -> AInt32))
    val out = SchemaYaml.dumpToFile(schema, dir)
    assert(out.getFileName.toString == "mycoll.yaml")
    assert(SchemaYaml.loadFile(out).fields == schema.fields)
  }
}
