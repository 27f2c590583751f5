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
  * One reader is the whole load, batch and stream: the dump's lines as
  * text, and one `parse_ejson` call per line
  * ([[graft.functions.ParseExtendedJson]]), which parses each document
  * in a single Jackson pass straight into the engine's own schema
  * (post-config types): numbers and bools read typed, BSON scalar
  * wrappers (`$oid`, `$date`, `$numberLong`, `$numberInt`,
  * `$numberDouble`, `$binary`) through their key, text through the
  * engine's one Python-grammar text cast; absent and empty values are
  * null. The parse runs inside codegen — no UDF, no driver loop, no
  * second pass over the input, and no `Normalizer` step after it.
  */
object ExtendedJsonSource {

  /** `schema` under its source (pre-rename) names, as the documents
    * spell them. */
  private def sourceSchema(schema: InferredSchema): InferredSchema = {
    val inverse = schema.renameMap.map(_.swap)
    InferredSchema(schema.name, schema.fields.map { case (n, t) => (inverse.getOrElse(n, n), t) })
  }

  /** The documents of `lines` (a text frame's `value` column) loaded as
    * `schema` (post-config) types and names them: the rows of the dump
    * load. In `Compat` mode a column is also null where the document's
    * own value is falsy: the reference's `if field` (schema.py:115-116)
    * tests the value as written, where `0`, `0.0` and `false` are falsy
    * but text is falsy only when empty, so text `"0"` keeps the 0 it
    * casts to. */
  def documents(lines: DataFrame, schema: InferredSchema, mode: Normalizer.Mode): DataFrame = {
    graft.functions.GraftFunctions.register(lines.sparkSession)
    lines.select(inline(call_function("parse_ejson", col("value"), lit(SchemaYaml.dump(sourceSchema(schema))),
      lit(if (mode == Normalizer.Compat) "compat" else "strict"))))
      .toDF(schema.fields.map(_._1): _*)
  }

  /** Read a JSONL dump against `schema` (see [[documents]]). */
  def read(spark: SparkSession, path: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame =
    documents(spark.read.text(path), schema, mode)
}
