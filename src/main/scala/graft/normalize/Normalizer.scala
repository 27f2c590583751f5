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
    // py_norm must resolve when these columns are analyzed
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
    * (schema.py:123-158). Spark's `cast` already covers most pairs; the
    * special cases are spelled out. With `srcType` StringType this is
    * the Python-grammar text cast; the EL reader
    * ([[graft.functions.ParseExtendedJson]]) casts text in a non-string
    * field the same way. */
  private def castTo(srcName: String, c: Column, srcType: DataType, target: AType, mode: Mode): Column = {
    (target, mode) match {
      case (ABool, Compat) =>
        // cast_boolean bug: any non-bool input -> false (schema.py:128-135)
        srcType match {
          case BooleanType => c
          case _           => lit(false)
        }
      case (ABool, Strict) =>
        // cast_boolean's EVIDENT intent (schema.py:128-135 — the first
        // isinstance(value, str) branch is a typo shadowing the real
        // string test): int == 1 -> true, str in {true, yes} -> true,
        // everything else false. "1"-as-string and nonzero-ints-other-
        // than-1 are NOT truthy.
        srcType match {
          case BooleanType => c
          case StringType  => lower(c).isin("true", "yes")
          case _: NumericType => c === lit(1)
          case _           => c.cast(BooleanType)
        }
      case (ATimestampS, m) =>
        // cast_timestamp_compat: int(value) else float(value) epoch
        // seconds (schema.py:143-150) — with PYTHON literal semantics
        // for string inputs. The reference has NO iso fallback
        // (fromisoformat is the date cast): '2024-01-01' in a
        // timestamp[s] column is a ValueError there, and `Compat`
        // reproduces the crash. `Strict` keeps the ISO fallback as a
        // documented [EXT] leniency — a retype-to-timestamp[s] config
        // on an ISO-string column is usable instead of fatal.
        srcType match {
          case StringType if m == Compat => pyCast(srcName, c, "epoch", TimestampType)
          case StringType =>
            val epoch = pyNorm(c, "epoch")
            val iso = pyNorm(c, "iso")
            when(epoch.isNotNull, epoch.cast(DoubleType).cast(TimestampType))
              .when(iso.isNotNull, iso.cast(TimestampType))
              .otherwise(castError(srcName, "epoch-or-iso", c).cast(TimestampType))
          case _ => c.cast(TimestampType)
        }
      case (ADate32, _) =>
        // reference casts strings via datetime.fromisoformat
        // (schema.py:140-141) — CPython 3.11 grammar, which both
        // accepts forms Spark's date cast rejects ('20240101') and
        // rejects forms Spark accepts ('2024-1-1', padded input)
        srcType match {
          case StringType => pyCast(srcName, c, "iso", DateType)
          case _          => c.cast(DateType)
        }
      case (ADate64, _) =>
        srcType match {
          case StringType => pyCast(srcName, c, "iso", TimestampType)
          case _          => c.cast(TimestampType)
        }
      case (t, _) if isIntTarget(t) && srcType == StringType =>
        // Python int(): Unicode digits, single underscores, isspace()
        // strip; int('1.5') is a ValueError (no float fallback)
        pyCast(srcName, c, "int", t.sparkType)
      case (t @ (AFloat16 | AFloat32 | AFloat64), _) if srcType == StringType =>
        pyCast(srcName, c, "float", t.sparkType)
      case (AStruct(fs), _) =>
        srcType match {
          case st: StructType =>
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
          case _ => c.cast(AStruct(fs).sparkType)
        }
      case (AList(et), _) =>
        srcType match {
          case ArrayType(set, _) =>
            transform(c, x => castTo(s"$srcName[]", x, set, et, mode))
          case _ => c.cast(AList(et).sparkType)
        }
      case (t, _) => c.cast(t.sparkType)
    }
  }

  private def isIntTarget(t: AType): Boolean = t match {
    case AInt8 | AInt16 | AInt32 | AInt64 |
         AUInt8 | AUInt16 | AUInt32 | AUInt64 => true
    case _ => false
  }

  /** Python-grammar string cast: normalize via [[graft.functions.PyNorm]]
    * (codegen static call, stays in WholeStageCodegen), raise on the
    * strings Python raises ValueError for — a bad row crashes the
    * extract exactly like the reference — then ANSI-cast the
    * normalized literal (overflow still raises, like pyarrow's
    * RecordBatch build). */
  private def pyCast(srcName: String, c: Column, mode: String, to: DataType): Column = {
    val norm = pyNorm(c, mode)
    // epoch mode renders NUMERIC seconds: route through DOUBLE, since a
    // string->timestamp cast would parse datetime text instead
    val casted =
      if (mode == "epoch") norm.cast(DoubleType).cast(to)
      else norm.cast(to)
    when(norm.isNotNull, casted).otherwise(castError(srcName, mode, c).cast(to))
  }

  private def pyNorm(c: Column, mode: String): Column =
    call_function("py_norm", c, lit(mode))

  private def castError(srcName: String, mode: String, c: Column): Column =
    raise_error(format_string(
      s"ValueError: invalid %s literal for column ${srcName.replace("%", "%%")}: '%s'",
      lit(mode), c))
}
