package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.InferredSchema
import graft.types.{AType, TypeLattice}
import graft.types.AType._

/** The EL reader the engine used before its one declared read, kept as a
  * test oracle: `spark.read.json` infers the dump's own schema (a full
  * pass over the input), every leaf in its extended-JSON shape, and a
  * structural post-projection unwraps the BSON scalar wrappers (`$oid`,
  * `$date`, `$numberLong`, `$numberInt`, `$numberDouble`, `$binary`)
  * into flat Spark columns. `Normalizer` over [[castText]] of [[read]] is
  * the load this engine's reader must reproduce. */
object SchemaLessReader {

  /** The wrapper-struct shapes `spark.read.json` produces for extended
    * JSON scalars, matched structurally. */
  private def unwrap(c: Column, dt: DataType): Column = dt match {
    case StructType(fields) =>
      val names = fields.map(_.name).toSet
      val wrapperKeys = Set("$oid", "$numberLong", "$numberInt", "$numberDouble", "$date", "$binary")
      if (names.size > 1 && names.forall(wrapperKeys) && !names.contains("$binary") && !names.contains("$date"))
        // mixed wrapper shapes across documents (e.g. _id is $oid in some
        // rows, $numberLong in others): spark.read.json unions the struct
        // fields; take whichever wrapper the row carries, as a string —
        // the lattice unifies mixed scalars to string anyway (schema.py:303)
        coalesce(fields.map(f => c.getField(f.name).cast(StringType)).toIndexedSeq: _*)
      else if (names == Set("$oid")) c.getField("$oid")
      else if (names == Set("$numberLong")) c.getField("$numberLong").cast(LongType)
      else if (names == Set("$numberInt")) c.getField("$numberInt").cast(IntegerType)
      else if (names == Set("$numberDouble")) c.getField("$numberDouble").cast(DoubleType)
      else if (names.contains("$date")) {
        val d = fields.find(_.name == "$date").get
        d.dataType match {
          case LongType   => (c.getField("$date") / lit(1000.0)).cast(TimestampType)
          case StringType => c.getField("$date").cast(TimestampType)
          case StructType(inner) if inner.exists(_.name == "$numberLong") =>
            (c.getField("$date").getField("$numberLong").cast(LongType) / lit(1000.0)).cast(TimestampType)
          case _ => c.getField("$date").cast(TimestampType)
        }
      }
      else if (names.contains("$binary")) {
        val b = fields.find(_.name == "$binary").get
        b.dataType match {
          case StructType(inner) if inner.exists(_.name == "base64") =>
            unbase64(c.getField("$binary").getField("base64"))
          case StringType => unbase64(c.getField("$binary"))
          case _          => c.getField("$binary").cast(BinaryType)
        }
      }
      else
        // plain nested document: unwrap recursively; an absent one stays
        // null (struct() of nulls would fabricate a row)
        when(c.isNull, lit(null)).otherwise(struct(
          fields.map(f => unwrap(c.getField(f.name), f.dataType).alias(f.name)).toIndexedSeq: _*))
    case ArrayType(et, _) =>
      et match {
        case _: StructType | _: ArrayType => transform(c, x => unwrap(x, et))
        case _                            => c
      }
    case _ => c
  }

  /** Read a JSONL dump; BSON wrappers unwrapped, column order as parsed. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.json(path)
    raw.select(raw.schema.fields.map(f => unwrap(col(f.name), f.dataType).alias(f.name)).toIndexedSeq: _*)
  }

  /** The text-to-type cast `Normalizer` made (in `Strict` mode) before it
    * called the EL reader's: text in a field `schema` types as a
    * non-string scalar is rendered through Python's literal grammars as
    * text that Spark's ANSI cast then reads; a literal Python rejects
    * raises. A null, and a top-level `''`, stays null. Other columns pass
    * as they are, so `Normalizer` meets no text where it would cast. */
  def castText(df: DataFrame, schema: InferredSchema): DataFrame = {
    val types = schema.fields.toMap
    df.select(df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      types.get(f.name).fold(c) { t =>
        if (f.dataType == StringType) when(c === "", lit(null)).otherwise(cast(c, f.dataType, t))
        else cast(c, f.dataType, t)
      }.as(f.name)
    }.toIndexedSeq: _*)
  }

  private def cast(c: Column, from: DataType, to: AType): Column = (to, from) match {
    case (AStruct(fs), StructType(sfs)) => when(c.isNull, lit(null)).otherwise(struct(sfs.map(f =>
      fs.find(_._1 == f.name).fold(c.getField(f.name))(t => cast(c.getField(f.name), f.dataType, t._2))
        .as(f.name)).toIndexedSeq: _*))
    case (AList(e), ArrayType(et, _)) => transform(c, cast(_, et, e))
    case (AString | _: AStruct | _: AList, _) => c
    case (_, StringType) => when(c.isNull, lit(null)).otherwise(textCast(c, to))
    case _ => c
  }

  private val pyInt = udf((s: String) => TypeLattice.parsePythonInt(s).map(_.toString).orNull)
  private val pyFloat = udf((s: String) => TypeLattice.parsePythonFloat(s).map {
    case d if d.isNaN => "NaN"
    case d if d.isPosInfinity => "Infinity"
    case d if d.isNegInfinity => "-Infinity"
    case d => d.toString
  }.orNull)
  private val pyIso = udf((s: String) => TypeLattice.parseIsoDateTime(s)
    .map(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").format).orNull)

  private def textCast(c: Column, to: AType): Column = {
    def checked(norm: Column, typed: Column, grammar: String): Column =
      when(norm.isNotNull, typed).otherwise(raise_error(concat(lit(s"ValueError: invalid $grammar literal: "), c)))
    to match {
      case ABool => lower(c).isin("true", "yes")
      case ABinary => c.cast(BinaryType)
      case ATimestampS =>
        val epoch = coalesce(pyInt(c), pyFloat(c))
        when(epoch.isNotNull, epoch.cast(DoubleType).cast(TimestampType))
          .otherwise(checked(pyIso(c), pyIso(c).cast(TimestampType), "epoch-or-iso"))
      case ADate32 | ADate64 => checked(pyIso(c), pyIso(c).cast(to.sparkType), "iso")
      case t if AType.isFloat(t) => checked(pyFloat(c), pyFloat(c).cast(t.sparkType), "float")
      case t => checked(pyInt(c), pyInt(c).cast(t.sparkType), "int")
    }
  }
}
