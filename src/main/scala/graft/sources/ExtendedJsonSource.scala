package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for MongoDB extended-JSON dumps (`mongoexport` JSONL) — the
  * offline stand-in for the reference's live-Mongo source
  * (mongo2pq/mongo.py:15-18; SURVEY.md §7.4.7: no connector jar ships
  * with the image, so the live path is a trait implemented by this
  * file-based source).
  *
  * Strategy: `spark.read.json` parses the raw lines with every leaf as
  * its extended-JSON shape; a post-projection unwraps the BSON scalar
  * wrappers (`$oid`, `$date`, `$numberLong`, `$numberInt`,
  * `$numberDouble`, `$binary`) into flat Spark columns. Parsing and
  * unwrap both run inside codegen — no UDF, no driver loop.
  */
object ExtendedJsonSource {

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
        // null (struct() of nulls would fabricate a row, as in textUnwrap)
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

  // ---- streaming-side unwrap -----------------------------------------
  //
  // A stream can't be schema-inferred per batch, so the streaming reader
  // parses wrapper-capable scalars as STRING (Spark's JSON parser
  // stringifies an object/number token when the declared field type is
  // StringType) and these expressions recover the typed value: a BSON
  // wrapper is parsed out of the raw text with `from_json` (null when
  // the text isn't that wrapper shape), falling back to the plain
  // scalar. The output types match what the batch path's `spark.read
  // .json` + [[unwrap]] produce, so `Normalizer` behaves identically
  // downstream. Nested struct/array columns RECURSE: their
  // wrapper-capable scalar leaves also parse as raw text (Spark's
  // JSON parser stringifies any token declared StringType at any
  // depth) and unwrap element-wise via `transform`/per-field structs
  // — r3's "wrappers inside nested columns are not unwrapped"
  // limitation is closed (StreamingEngineSpec pins it).

  private def jsonField(c: Column, schemaDDL: String, path: Seq[String]): Column =
    path.foldLeft(from_json(c, org.apache.spark.sql.types.DataType.fromDDL(schemaDDL)
      .asInstanceOf[StructType]))(_.getField(_))

  /** The streaming parse type for a target lattice type: wrapper-capable
    * scalars arrive as raw text — at ANY nesting depth; bools parse
    * natively; lists/structs recurse. */
  def streamParseType(t: graft.types.AType): DataType = {
    import graft.types.AType._
    t match {
      case ABool => BooleanType
      case AList(e) => ArrayType(streamParseType(e))
      case AStruct(fs) => StructType(fs.map { case (n, ft) =>
        org.apache.spark.sql.types.StructField(n, streamParseType(ft))
      }.toArray)
      case _ => StringType
    }
  }

  /** Unwrap a text-parsed streaming column into the same Spark type the
    * batch reader produces for target type `t` (see table in [[read]]). */
  def textUnwrap(raw: Column, t: graft.types.AType): Column = {
    import graft.types.AType._
    // Empty text is falsy in the batch path (Normalizer drops it before
    // any cast); null it here so the ANSI casts below can't throw on it.
    // `def`, not `val`: only valid on the string-parsed branches (a bool
    // or nested column would fail analysis comparing against '').
    def c: Column = when(raw === lit(""), lit(null)).otherwise(raw)
    def numLong: Column   = jsonField(c, "`$numberLong` STRING", Seq("$numberLong"))
    def numInt: Column    = jsonField(c, "`$numberInt` STRING", Seq("$numberInt"))
    def numDouble: Column = jsonField(c, "`$numberDouble` STRING", Seq("$numberDouble"))
    t match {
      case AString =>
        // a STRING target still receives wrapper-shaped values when the
        // lattice widened a mixed column to string (e.g. an empty array
        // unifying a $numberLong list to AList(AString)): unwrap every
        // scalar wrapper to the same text the batch path's
        // unwrap-then-cast-to-string produces, then fall back to the
        // raw text for plain strings
        val dateTxt = coalesce(
          jsonField(c, "`$date` STRUCT<`$numberLong`: STRING>", Seq("$date", "$numberLong")),
          jsonField(c, "`$date` STRING", Seq("$date")))
        val wrapperTs = when(dateTxt.rlike("^[+-]?[0-9]+$"),
            (dateTxt.cast(LongType) / lit(1000.0)).cast(TimestampType))
          .otherwise(dateTxt.cast(TimestampType))
        val b64 = coalesce(
          jsonField(c, "`$binary` STRUCT<base64: STRING, subType: STRING>", Seq("$binary", "base64")),
          jsonField(c, "`$binary` STRING", Seq("$binary")))
        coalesce(
          jsonField(c, "`$oid` STRING", Seq("$oid")),
          numLong, numInt, numDouble,
          when(dateTxt.isNotNull, wrapperTs.cast(StringType)),
          when(b64.isNotNull, unbase64(b64).cast(StringType)),
          c)
      case AInt8 | AInt16 | AInt32 | AInt64 | AUInt8 | AUInt16 | AUInt32 | AUInt64 =>
        // batch parse type for plain JSON ints is LongType. Normalize
        // through the PYTHON int grammar first (py_norm: underscores,
        // Unicode digits, Unicode-whitespace stripping) so the
        // streaming path accepts exactly what the batch path's
        // py_norm/parsePythonInt accepts. A non-Python-int text value
        // ("1.5") falls back to the truncating double path (json
        // infers double, ANSI double->long truncates); genuinely
        // non-numeric text still raises, matching the batch/reference
        // ValueError. Engine.runStreaming installs py_norm.
        val txt = coalesce(numLong, numInt, numDouble, c)
        val pyInt = call_function("py_norm", txt, lit("int"))
        when(pyInt.isNotNull, pyInt.cast(LongType))
          .otherwise(txt.cast(DoubleType).cast(LongType))
      case AFloat16 | AFloat32 | AFloat64 =>
        // same Python-grammar routing ('1_0.5', 'inf', Unicode spaces);
        // the fallback ANSI cast keeps the raise-on-garbage parity
        val txt = coalesce(numDouble, numLong, numInt, c)
        val pyFloat = call_function("py_norm", txt, lit("float"))
        when(pyFloat.isNotNull, pyFloat.cast(DoubleType))
          .otherwise(txt.cast(DoubleType))
      case ADate32 | ADate64 | ATimestampS =>
        // $date is epoch-millis (number or {"$numberLong": text}) or ISO
        // text; plain values keep their raw text for Normalizer's
        // epoch-seconds-else-ISO string path (same as the batch parse).
        val dateTxt = coalesce(
          jsonField(c, "`$date` STRUCT<`$numberLong`: STRING>", Seq("$date", "$numberLong")),
          jsonField(c, "`$date` STRING", Seq("$date")))
        val wrapperTs = when(dateTxt.rlike("^[+-]?[0-9]+$"),
            (dateTxt.cast(LongType) / lit(1000.0)).cast(TimestampType))
          .otherwise(dateTxt.cast(TimestampType))
        val plainTs = when(c.rlike("^[+-]?[0-9]+(\\.[0-9]+)?$"),
            c.cast(DoubleType).cast(TimestampType))
          .otherwise(c.cast(TimestampType))
        when(dateTxt.isNotNull, wrapperTs).otherwise(plainTs)
      case ABinary =>
        val b64 = coalesce(
          jsonField(c, "`$binary` STRUCT<base64: STRING, subType: STRING>", Seq("$binary", "base64")),
          jsonField(c, "`$binary` STRING", Seq("$binary")))
        when(b64.isNotNull, unbase64(b64)).otherwise(c.cast(BinaryType))
      case AList(e) =>
        // element-wise unwrap; parse type recursed, so elements are raw
        // text (or nested shapes) and the scalar branches above apply
        transform(raw, x => textUnwrap(x, e))
      case AStruct(fs) =>
        // per-field unwrap; a null struct stays null (struct() of nulls
        // would fabricate a non-null row the batch path never produces)
        when(raw.isNull, lit(null))
          .otherwise(struct(fs.map { case (n, ft) =>
            textUnwrap(raw.getField(n), ft).alias(n)
          }: _*))
      case _ => raw // bool — parsed natively
    }
  }
}
