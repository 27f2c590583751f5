package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.InferredSchema
import graft.types.AType

/** The row-normalization step (reference: mongo2pq/schema.py:110-164) as
  * a single generated Spark projection — no per-row interpretation, the
  * whole step compiles into one WholeStageCodegen span:
  *
  *  - schema-drop: input columns absent from the schema are discarded
  *    (schema.py:116, README.md:83-84) — here simply not selected, which
  *    also lets Catalyst prune the scan down to the selected columns;
  *  - rename: old name -> new name via the config rename map
  *    (schema.py:113-114) becomes `col(old).alias(new)`;
  *  - falsy-drop: in `Compat` mode `0`, `0.0`, `false` and `''` become
  *    null, faithfully reproducing the reference's `if field` filter
  *    (schema.py:115-116); `Strict` mode drops only null / empty string
  *    (the comment's stated intent) — SURVEY.md §7.4.2;
  *  - cast: lenient per-type cast equivalent to the memoized cast table
  *    (schema.py:123-158). The reference's `cast_boolean` is broken
  *    (both branches test `isinstance(value, str)` and the first
  *    compares a str to 1, schema.py:128-135); `Strict` implements the
  *    evident intent ("true"/"yes" -> true), `Compat` reproduces
  *    non-bool -> false — SURVEY.md §7.4.3.
  *
  * The dump load does not run this step: its reader
  * ([[graft.functions.ParseExtendedJson]]) types, renames and nulls each
  * document in one pass. `Normalizer` is the path of typed columns (the
  * Mongo connector's BSON columns, `MongoSource.load`); a text column it
  * casts with that reader's text cast.
  */
object Normalizer {
  import AType._

  sealed trait Mode
  /** Bug-for-bug reproduction of the reference. */
  case object Compat extends Mode
  /** The reference's documented intent. */
  case object Strict extends Mode

  /** Build the normalize projection for `input` against the
    * (post-config) schema. `schema.renameMap` maps *input* column names
    * to schema names. */
  def columns(schema: InferredSchema, input: DataFrame, mode: Mode = Strict): Seq[Column] = {
    // py_cast must resolve when these columns are analyzed
    graft.functions.GraftFunctions.register(input.sparkSession)
    val inputCols = input.schema.fields.map(f => f.name -> f.dataType).toMap
    val inverse: Map[String, String] = schema.renameMap.map(_.swap) // new -> old
    schema.fields.flatMap { case (name, atype) =>
      val sourceName = inverse.getOrElse(name, name)
      inputCols.get(sourceName).map { srcType =>
        normalizeColumn(sourceName, srcType, atype, mode).alias(name)
      }
      // schema fields with no input column are omitted (they'd be all-null)
    }
  }

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  def apply(schema: InferredSchema, input: DataFrame, mode: Mode = Strict): DataFrame =
    input.select(columns(schema, input, mode): _*)

  /** when(falsy, null) . cast — one expression per column. */
  def normalizeColumn(srcName: String, srcType: DataType, target: AType, mode: Mode): Column = {
    val c = col(quoted(srcName))
    val falsy: Column = mode match {
      case Compat =>
        // Python truthiness: None, '', 0, 0.0, False are all falsy
        srcType match {
          case StringType               => c.isNull || c === lit("")
          case BooleanType              => c.isNull || !c
          case _: NumericType           => c.isNull || c === lit(0)
          case _                        => c.isNull
        }
      case Strict =>
        srcType match {
          case StringType => c.isNull || c === lit("")
          case _          => c.isNull
        }
    }
    when(falsy, lit(null).cast(target.sparkType)).otherwise(castTo(srcName, c, srcType, target, mode))
  }

  /** Lenient cast mirroring the reference cast table
    * (schema.py:123-158). Text in a non-string field goes through the EL
    * reader's own text cast (`py_cast`,
    * [[graft.functions.ParseExtendedJson]]): Python's literal grammars, a
    * literal Python rejects raises `ValueError` naming the column, as a
    * bad row crashes the reference's extract. Typed input takes Spark's
    * cast, but for bool: `Compat` reproduces `cast_boolean`'s bug (any
    * non-bool is false, schema.py:128-135), `Strict` its evident intent
    * (a number is true only at 1). */
  private def castTo(srcName: String, c: Column, srcType: DataType, target: AType, mode: Mode): Column =
    (target, srcType) match {
      case (AStruct(fs), st: StructType) =>
        // Spark struct casts are POSITIONAL, but an input's field
        // order (a connector's schema, a caller's frame) need not match
        // the inferred order (first-seen) — align BY NAME recursively;
        // a source field absent from the parse is null
        val aligned = struct(fs.map { case (n, ft) =>
          st.fields.find(_.name == n) match {
            case Some(sf) => castTo(s"$srcName.$n", c.getField(n), sf.dataType, ft, mode).alias(n)
            case None     => lit(null).cast(ft.sparkType).alias(n)
          }
        }: _*)
        when(c.isNull, lit(null)).otherwise(aligned)
      case (AList(et), ArrayType(set, _)) => transform(c, x => castTo(s"$srcName[]", x, set, et, mode))
      case (AString | _: AStruct | _: AList, _) => c.cast(target.sparkType)
      case (t, StringType) =>
        call_function("py_cast", c, lit(t.alias), lit(if (mode == Compat) "compat" else "strict"), lit(srcName))
      case (ABool, BooleanType) => c
      case (ABool, _) if mode == Compat => lit(false)
      case (ABool, _: NumericType) => c === lit(1)
      case (t, _) => c.cast(t.sparkType)
    }
}
