package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.normalize.Normalizer
import graft.schema.InferredSchema
import graft.types.AType

/** Reader for MongoDB extended-JSON dumps (`mongoexport` JSONL) — the
  * offline stand-in for the reference's live-Mongo source
  * (mongo2pq/mongo.py:15-18; SURVEY.md §7.4.7: no connector jar ships
  * with the image, so the live path is a trait implemented by this
  * file-based source).
  *
  * One reader serves the batch load and the stream. Each document is
  * parsed once, against the engine's own schema ([[parseSchema]]:
  * source names, post-config types), every non-string leaf as VARIANT
  * and every string leaf as STRING at any depth. [[unwrap]] then types
  * each leaf with one `bson_unwrap` call ([[graft.functions.BsonUnwrap]]),
  * which reads the variant's type header once: numbers and bools are
  * read typed, BSON scalar wrappers (`$oid`, `$date`, `$numberLong`,
  * `$numberInt`, `$numberDouble`, `$binary`) through their key, and
  * text, read as UTF-8, takes `Normalizer`'s Python-grammar cast.
  * Parse and unwrap run inside codegen — no UDF, no driver loop, no
  * second pass over the input.
  */
object ExtendedJsonSource {

  /** The parse type for a target lattice type: STRING for a string,
    * VARIANT for any other scalar; lists and structs recurse. A string
    * leaf parses as STRING so that Spark's JSON reader keeps each
    * token's own text (a number's `1e3`, a sub-document's JSON), which
    * a variant no longer holds. */
  def parseType(t: AType): DataType = t match {
    case AType.AString     => StringType
    case AType.AList(e)    => ArrayType(parseType(e))
    case AType.AStruct(fs) =>
      StructType(fs.map { case (n, ft) => StructField(n, parseType(ft)) }.toArray)
    case _ => VariantType
  }

  /** `schema`'s fields under their source (pre-rename) names. */
  private def sourceFields(schema: InferredSchema): Seq[(String, AType)] = {
    val inverse = schema.renameMap.map(_.swap)
    schema.fields.map { case (n, t) => (inverse.getOrElse(n, n), t) }
  }

  /** The schema documents are parsed against: source names, [[parseType]]s. */
  def parseSchema(schema: InferredSchema): StructType =
    StructType(sourceFields(schema).map { case (n, t) => StructField(n, parseType(t)) })

  /** Documents parsed as [[parseSchema]]`(schema)`, each column typed as
    * `schema` types it (its Spark type), under its source name. In
    * `Compat` mode a column is also null where the document's own value
    * is falsy: the reference's `if field` (schema.py:115-116) tests the
    * value as written, where `0`, `0.0` and `false` are falsy but text is
    * falsy only when empty, so text `"0"` keeps the 0 it casts to. */
  def unwrap(parsed: DataFrame, schema: InferredSchema, mode: Normalizer.Mode): DataFrame = {
    graft.functions.GraftFunctions.register(parsed.sparkSession)
    parsed.select(sourceFields(schema).map { case (n, t) =>
      val v = col(s"`${n.replace("`", "``")}`")
      (t match {
        case AType.AString | AType.AList(_) | AType.AStruct(_) => unwrapVariant(n, v, t, mode)
        case _ if mode == Normalizer.Compat =>
          val (typed, fromText) = scalar(n, v, t, mode)
          val truthy = readType(t) match {
            case BooleanType => typed
            case LongType | DoubleType => typed =!= 0
            case _ => lit(true) // a $date or $binary (and an epoch number, even 0)
          }
          when(typed.isNull, fromText).when(truthy, typed).cast(t.sparkType)
        case _ => unwrapVariant(n, v, t, mode)
      }).alias(n)
    }: _*)
  }

  /** Read a JSONL dump against `schema` (see [[unwrap]]). */
  def read(spark: SparkSession, path: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame =
    unwrap(spark.read.schema(parseSchema(schema)).json(path), schema, mode)

  /** [[unwrap]]'s output normalized to `schema`: renamed, the absent and
    * empty values null. Falsy values are [[unwrap]]'s to drop, since
    * only it sees the document's own value; `Normalizer`'s `Compat` test
    * of the typed value would also drop the 0 that text `"0"` casts to,
    * so this is `Normalizer`'s `Strict` step (its cast of typed input is
    * the same in both modes). */
  def normalize(unwrapped: DataFrame, schema: InferredSchema): DataFrame =
    Normalizer(schema, unwrapped, Normalizer.Strict)

  /** A column parsed as [[parseType]]`(t)`, typed as `t`'s Spark type.
    * Text takes the StringType cast (`Normalizer.castTo`: the Python
    * grammar; `''` is falsy); numbers and BSON wrappers are read typed
    * (a fraction in an int column truncates). `name` labels cast
    * errors. */
  def unwrapVariant(name: String, v: Column, t: AType, mode: Normalizer.Mode): Column = {
    import AType._
    t match {
      case AList(e) => transform(v, x => unwrapVariant(s"$name[]", x, e, mode))
      case AStruct(fs) =>
        // an absent sub-document stays null (struct() of nulls would fabricate one)
        when(v.isNull, lit(null)).otherwise(struct(fs.map { case (n, ft) =>
          unwrapVariant(s"$name.$n", v.getField(n), ft, mode).alias(n)
        }: _*))
      case AString =>
        // only a BSON wrapper's text is parsed a second time, to unwrap it
        coalesce(bsonUnwrap(name, try_parse_json(when(v.startsWith("{"), v)), StringType), v)
      case _ =>
        val (typed, fromText) = scalar(name, v, t, mode)
        coalesce(typed, fromText).cast(t.sparkType)
    }
  }

  /** What `bson_unwrap` reads a non-string scalar leaf of type `t` as. */
  private def readType(t: AType): DataType = t match {
    case AType.ABool => BooleanType
    case AType.ABinary => BinaryType
    case AType.ADate32 | AType.ADate64 | AType.ATimestampS => TimestampType
    case _ if AType.isFloat(t) => DoubleType
    case _ => LongType
  }

  /** A non-string scalar leaf read typed (NULL for text and a JSON
    * null), and its text cast with the Python grammar (NULL for `''`). */
  private def scalar(name: String, v: Column, t: AType, mode: Normalizer.Mode): (Column, Column) = {
    val (to, text) = (readType(t), bsonUnwrap(name, v, StringType))
    (bsonUnwrap(name, v, to), when(text =!= "", Normalizer.castTo(name, text, StringType, t, mode).cast(to)))
  }

  private def bsonUnwrap(name: String, v: Column, to: DataType): Column =
    call_function("bson_unwrap", v, lit(to.simpleString), lit(name))
}
