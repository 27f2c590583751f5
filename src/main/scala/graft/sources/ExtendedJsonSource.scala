package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.normalize.Normalizer
import graft.schema.{InferredSchema, SchemaYaml}

/** Reader for MongoDB extended-JSON dumps (`mongoexport` JSONL) — the
  * offline stand-in for the reference's live-Mongo source
  * (mongo2pq/mongo.py:15-18; SURVEY.md §7.4.7: no connector jar ships
  * with the image, so the live path is a trait implemented by this
  * file-based source).
  *
  * One reader serves the batch load and the stream: the dump's lines as
  * text, and one `parse_ejson` call per line
  * ([[graft.functions.ParseExtendedJson]]), which parses each document
  * in a single Jackson pass straight into the engine's own schema
  * (source names, post-config types): numbers and bools read typed, BSON
  * scalar wrappers (`$oid`, `$date`, `$numberLong`, `$numberInt`,
  * `$numberDouble`, `$binary`) through their key, text through
  * `Normalizer`'s Python-grammar cast. The parse runs inside codegen —
  * no UDF, no driver loop, no second pass over the input.
  */
object ExtendedJsonSource {

  /** `schema` under its source (pre-rename) names, as the documents
    * spell them. */
  private def sourceSchema(schema: InferredSchema): InferredSchema = {
    val inverse = schema.renameMap.map(_.swap)
    InferredSchema(schema.name, schema.fields.map { case (n, t) => (inverse.getOrElse(n, n), t) })
  }

  /** The documents of `lines` (a text frame's `value` column), each
    * column typed as `schema` types it (its Spark type), under its
    * source name. In `Compat` mode a column is also null where the
    * document's own value is falsy: the reference's `if field`
    * (schema.py:115-116) tests the value as written, where `0`, `0.0` and
    * `false` are falsy but text is falsy only when empty, so text `"0"`
    * keeps the 0 it casts to. */
  def documents(lines: DataFrame, schema: InferredSchema, mode: Normalizer.Mode): DataFrame = {
    graft.functions.GraftFunctions.register(lines.sparkSession)
    lines.select(inline(call_function("parse_ejson", col("value"), lit(SchemaYaml.dump(sourceSchema(schema))),
      lit(if (mode == Normalizer.Compat) "compat" else "strict"))))
  }

  /** Read a JSONL dump against `schema` (see [[documents]]). */
  def read(spark: SparkSession, path: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame =
    documents(spark.read.text(path), schema, mode)

  /** [[documents]]' output normalized to `schema`: renamed, the absent
    * and empty values null. Falsy values are the reader's to drop, since
    * only it sees the document's own value; `Normalizer`'s `Compat` test
    * of the typed value would also drop the 0 that text `"0"` casts to,
    * so this is `Normalizer`'s `Strict` step (its cast of typed input is
    * the same in both modes). */
  def normalize(documents: DataFrame, schema: InferredSchema): DataFrame =
    Normalizer(schema, documents, Normalizer.Strict)
}
