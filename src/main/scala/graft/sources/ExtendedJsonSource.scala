package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.VariantVal

import graft.normalize.Normalizer
import graft.types.AType

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
  * unwrap both run inside codegen — no UDF, no driver loop. The
  * streaming reader parses against a known schema instead, non-string
  * leaves as VARIANT, and unwraps to the same values ([[unwrapVariant]]).
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

  // ---- streaming-side unwrap -----------------------------------------
  //
  // A stream can't be schema-inferred per batch, so the streaming reader
  // parses each document once, against the engine's own schema
  // (streamParseType), and
  // unwrapVariant turns each parsed leaf into the value the batch path
  // (`spark.read.json` + unwrap + `Normalizer`) produces, in the
  // schema's own Spark type; `Normalizer` then behaves identically
  // downstream. Non-string leaves parse as VARIANT at any depth, so a
  // number, a BSON wrapper or a text value is read typed out of the
  // parsed value by path (`$['$numberLong']`, `$['$date']`, ...). String
  // leaves parse as STRING: Spark's JSON reader then gives every token
  // the text the batch reader gives it (a number token's own text, say
  // `1e3`, which a variant no longer holds).

  /** The streaming parse type for a target lattice type: STRING for a
    * string, VARIANT for any other scalar; lists and structs recurse. */
  def streamParseType(t: AType): DataType = t match {
    case AType.AString     => StringType
    case AType.AList(e)    => ArrayType(streamParseType(e))
    case AType.AStruct(fs) =>
      StructType(fs.map { case (n, ft) => StructField(n, streamParseType(ft)) }.toArray)
    case _ => VariantType
  }

  /** BSON wrapper values read by path out of a parsed variant; each is
    * NULL when `v` is not that wrapper. */
  private final class Wrapper(v: Column) {
    def get(key: String, to: String = "string"): Column = try_variant_get(v, s"$$['$$$key']", to)
    /** `$date` is epoch millis (a number or `{"$numberLong": text}`) or ISO text. */
    def date: Column = {
      val millis = coalesce(try_variant_get(v, "$['$date']['$numberLong']", "bigint"), get("date", "bigint"))
      when(millis.isNotNull, (millis / lit(1000.0)).cast(TimestampType))
        .otherwise(get("date").cast(TimestampType))
    }
    def bytes: Column = unbase64(coalesce(try_variant_get(v, "$['$binary']['base64']", "string"), get("binary")))
    /** The text the batch path's unwrap-then-cast-to-string gives. */
    def text: Column = coalesce(get("oid"), get("numberLong"), get("numberInt"), get("numberDouble"),
      date.cast(StringType), bytes.cast(StringType))
  }

  /** The text of a VARIANT string value, NULL for any other value, read
    * as UTF-8. Spark's own reads of a variant string (`variant_get`,
    * casts, `to_json`) decode it with the JVM's default charset
    * (`VariantUtil.getString`, Spark 4.1.2), which turns non-ASCII text
    * into U+FFFD under a non-UTF-8 locale. */
  private val variantText = udf { (v: VariantVal) =>
    import org.apache.spark.types.variant.VariantUtil._
    if (v == null) null
    else {
      val b = v.getValue
      val info = (b(0) >> BASIC_TYPE_BITS) & TYPE_INFO_MASK
      (b(0) & BASIC_TYPE_MASK) match {
        case SHORT_STR => new String(b, 1, info, UTF_8)
        case PRIMITIVE if info == LONG_STR => new String(b, 1 + U32_SIZE, readUnsigned(b, 1, U32_SIZE), UTF_8)
        case _ => null
      }
    }
  }

  /** A column parsed as [[streamParseType]]`(t)`, typed as the batch
    * path types it: `t`'s Spark type. A text value takes the batch's
    * StringType cast (`Normalizer.castTo`: the Python grammar; `''` is
    * falsy); numbers and BSON wrappers are read typed, as the batch's
    * `spark.read.json` reads them (a float token as DOUBLE, so a
    * fraction in an int column truncates). `name` labels cast errors. */
  def unwrapVariant(name: String, v: Column, t: AType, mode: Normalizer.Mode): Column = {
    import AType._
    t match {
      case AList(e) => transform(v, x => unwrapVariant(s"$name[]", x, e, mode))
      case AStruct(fs) =>
        // a null sub-document stays null, as on the batch path
        when(v.isNull, lit(null)).otherwise(struct(fs.map { case (n, ft) =>
          unwrapVariant(s"$name.$n", v.getField(n), ft, mode).alias(n)
        }: _*))
      case AString =>
        // only a BSON wrapper's text is parsed a second time, to unwrap it
        coalesce(new Wrapper(try_parse_json(when(v.startsWith("{"), v))).text, v)
      case _ =>
        val w = new Wrapper(v)
        val text = variantText(v)
        val number = try_variant_get(v, "$", "double") // NULL unless a number
        val typed = t match {
          case ABool => try_variant_get(v, "$", "boolean")
          case ABinary => w.bytes
          case ADate32 | ADate64 | ATimestampS =>
            coalesce(w.date, number.cast(TimestampType)).cast(t.sparkType)
          case _ if isFloat(t) =>
            coalesce(number, w.get("numberDouble", "double"), w.get("numberLong", "double"),
              w.get("numberInt", "double")).cast(t.sparkType)
          case _ => // ints
            coalesce(when(number.isNotNull, variant_get(v, "$", "bigint")), w.get("numberLong", "bigint"),
              w.get("numberInt", "bigint"), w.get("numberDouble", "double").cast(LongType)).cast(t.sparkType)
        }
        when(text.isNull, typed)
          .when(text =!= "", Normalizer.castTo(name, text, StringType, t, mode))
    }
  }
}
