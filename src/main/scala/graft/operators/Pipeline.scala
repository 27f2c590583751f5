package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.SchemaConfig
import graft.normalize.Normalizer
import graft.schema.SchemaInference
import graft.sources.ExtendedJsonSource

/** End-to-end exercises of the engine core (SURVEY.md §7.2): the
  * reference's schema-inference -> config-rewrite -> normalize pipeline
  * run as Spark queries over the shared testdata, so the DuckDB oracle
  * can check the *data* semantics of the pipeline (the type/rename
  * semantics have dedicated scalatest/scalacheck suites).
  *
  * A fixed inference clock (2026-01-01T00:00:00Z) pins the reference's
  * epoch-timestamp heuristic (mongo2pq/schema.py:325-328), which
  * otherwise depends on wall-clock "now" (SURVEY.md §7.4.1).
  */
object Pipeline {
  import Tables._

  private val fixedNow: Double = 1767225600.0 // 2026-01-01T00:00:00Z

  private val configYaml = """
schema:
  events:
    - type: retype_contains
      fieldname: value
      fieldtype: double
    - type: rename_regex
      oldname: ^user_id$
      newname: uid
"""

  /** events rows as extended-JSON documents (the Mongo-dump stand-in). */
  private def eventsJson(s: SparkSession, dir: String) = {
    import s.implicits._
    events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .select(to_json(struct($"event_id", $"user_id", $"event_type", $"value")).as("doc"))
      .as[String]
  }

  def queries: Vector[Q] = Vector(
    // ---- distributed schema inference (A8-A12) -----------------------
    // Oracle: the full inferred (ordinal, field, type_alias) table as a
    // literal — the expected lattice outcome of the events documents
    // (event_id/user_id within int32, value within float32's range and
    // outside the epoch-timestamp window, event_type free text). Any
    // drift in inference, field ordering, or alias naming fails the
    // hash compare.
    Q("q36_schema_infer",
      (s, dir) => {
        import s.implicits._
        val schema = SchemaInference.infer(eventsJson(s, dir), "events",
          samples = 0, nowEpochSec = fixedNow)
        schema.fields.zipWithIndex
          .map { case ((n, t), i) => (i, n, t.alias) }
          .toDF("ordinal", "field", "type_alias")
          .orderBy($"ordinal")
      },
      Some("""
        SELECT * FROM (VALUES
          (0, 'event_id', 'int32'),
          (1, 'user_id', 'int32'),
          (2, 'event_type', 'string'),
          (3, 'value', 'float')) AS t(ordinal, field, type_alias)
        ORDER BY ordinal""")),

    // ---- infer -> config (retype+rename) -> normalize (A7, A13-A15) --
    Q("q37_normalize_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = eventsJson(s, dir)
        val inferred = SchemaInference.infer(docs, "events", samples = 2000, nowEpochSec = fixedNow)
        val parsed = SchemaConfig.parse(configYaml)
        val finalSchema = inferred.useConfig(parsed.forCollection("events"))
        // the EL load's own reader, against the config-applied schema
        ExtendedJsonSource.documents(docs.toDF("value"), finalSchema, Normalizer.Strict)
          .orderBy($"event_id")
      },
      Some("""
        SELECT CAST(event_id AS INT) AS event_id, CAST(user_id AS INT) AS uid,
          event_type, CAST(value AS DOUBLE) AS value
        FROM events ORDER BY event_id"""))
  )
}
