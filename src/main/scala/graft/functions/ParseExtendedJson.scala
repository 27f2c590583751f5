package graft.functions

import java.math.RoundingMode
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneId}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonProcessingException, StreamReadConstraints}
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, GenericInternalRow, Literal,
  TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.{InferredSchema, SchemaYaml}
import graft.types.{AType, TypeLattice}

/** `parse_ejson(line, schema, mode)`: the documents of one line of a
  * MongoDB extended-JSON dump, as rows typed by `schema` (a `!schema`
  * YAML literal, the one `SchemaYaml` reads and writes: field names as
  * the documents spell them, lattice types) in `mode` ('strict' or
  * 'compat'). `inline` turns the array into rows. One Jackson pass per
  * line writes each value straight into its column's Spark type:
  *
  *  - a number is read as the column's type (a fraction truncates into
  *    an integer, an out-of-range one raises; a timestamp takes epoch
  *    seconds; a bool column is true only at 1); a bool reads as 1 or 0
  *    in a number column;
  *  - an object with a single BSON wrapper key — `$oid`, `$numberLong`,
  *    `$numberInt`, `$numberDouble` (text or a number), `$date` (epoch
  *    millis, ISO text or `{"$numberLong": millis}`) or `$binary`
  *    (`{"base64": …}`, or text beside a legacy `$type`) — is read
  *    through that key;
  *  - text in a non-string column takes the engine's one text cast
  *    (`fromText`, which `Normalizer` calls as `py_cast`: `TypeLattice`'s
  *    `int()`/`float()`/epoch/`fromisoformat` grammars): `''` is null, a
  *    bad literal raises `ValueError: invalid <grammar> literal for
  *    column <name>`;
  *  - a string column keeps each token's text as written (a number's
  *    `1e3`, a sub-document's JSON), or the text of an `$oid`/`$number*`
  *    wrapper; a top-level `''` is null;
  *  - sub-documents and arrays recurse; fields outside the schema are
  *    skipped; an absent field is null;
  *  - in 'compat' mode the reference's falsy test (`if field`,
  *    schema.py:115-116) runs on each top-level value as written: a
  *    number 0 and a false are null, text keeps what it casts to.
  *
  * Any other value raises `ValueError: cannot read <json> as <type> for
  * column <name>`, as a bad row crashes the reference's extract; only a
  * JSON null is null. Lines read as Spark's JSON reader reads them: a
  * blank line has no document, a top-level array one per element, the
  * last of duplicate keys wins, text after the document is ignored, and
  * a line that is not a JSON document (or array of them) is one row of
  * nulls ([[ParseExtendedJson.documents]], which schema inference reads
  * lines with too). A document raises only once its line has parsed.
  *
  * Text is decoded from the line's UTF-8 bytes whatever the JVM's
  * default charset. Codegen is one call, so the read stays inside
  * WholeStageCodegen.
  */
case class ParseExtendedJson(child: Expression, schema: String, mode: String, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  import ParseExtendedJson._

  @transient private lazy val parsed: Option[InferredSchema] =
    try Some(SchemaYaml.load(schema)) catch { case _: SchemaYaml.SchemaParseError => None }

  @transient private lazy val document: Obj = compileDocument(parsed.get.fields, compat = mode == "compat")

  override def dataType: DataType = ArrayType(StructType(parsed.fold(Seq.empty[StructField])(_.fields.map {
    case (n, t) => StructField(n, t.sparkType)
  })), containsNull = false)

  override def prettyName: String = "parse_ejson"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckFailure(s"parse_ejson reads STRING, not ${child.dataType}")
    else if (parsed.isEmpty) TypeCheckFailure(s"parse_ejson: not a !schema document: $schema")
    else if (mode != "strict" && mode != "compat") TypeCheckFailure(s"parse_ejson: unknown mode '$mode'")
    else TypeCheckResult.TypeCheckSuccess

  override def withTimeZone(tz: String): ParseExtendedJson = copy(timeZoneId = Option(tz))

  /** The rows of one line. */
  def rows(line: UTF8String): ArrayData = ParseExtendedJson.rows(line, document, zoneId)

  override def nullSafeEval(line: Any): Any = rows(line.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("parseEjson", this)
    defineCodeGen(ctx, ev, line => s"$self.rows($line)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object ParseExtendedJson {

  /** The SQL function's builder: `schema` and `mode` are literals. */
  def build(args: Seq[Expression]): ParseExtendedJson =
    ParseExtendedJson(args(0), args(1).eval().toString, args(2).eval().toString)

  /** Spark's JSON reader options: single quotes and NaN/Infinity allowed,
    * its stream limits. */
  private[graft] val factory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxNestingDepth(1000).maxNumberLength(1000).maxStringLength(20000000).build())
    .build()

  /** How one JSON value is read; `label` is the column path errors name. */
  private sealed abstract class Node(val label: String, val t: AType)
  private final class Text(label: String, val top: Boolean) extends Node(label, AType.AString)
  private final class Arr(label: String, t: AType, val elem: Node) extends Node(label, t)
  private final class Obj(label: String, t: AType, val names: Array[String], val nodes: Array[Node])
      extends Node(label, t) {
    val index = new java.util.HashMap[String, Integer]
    names.indices.foreach(i => index.put(names(i), i))
  }
  /** A non-string scalar, read as `kind` and then narrowed to its type;
    * `compat` marks the reference's cast and, at the top level, its
    * falsy test. */
  private final class Scalar(label: String, t: AType, val top: Boolean, val compat: Boolean)
      extends Node(label, t) {
    val kind: Int = t match {
      case AType.ABool => Bool
      case AType.ABinary => Bin
      case AType.ADate32 | AType.ADate64 | AType.ATimestampS => Ts
      case _ if AType.isFloat(t) => Dbl
      case _ => Lng
    }
  }

  // what a scalar is read as before its narrowing cast
  private final val Bool = 0
  private final val Lng = 1
  private final val Dbl = 2
  private final val Ts = 3
  private final val Bin = 4
  private val kindNames = Array("boolean", "bigint", "double", "timestamp", "binary")

  private def compile(label: String, t: AType, top: Boolean, compat: Boolean): Node = t match {
    case AType.AString => new Text(label, top)
    case AType.AList(e) => new Arr(label, t, compile(s"$label[]", e, top = false, compat))
    case AType.AStruct(fs) =>
      struct(label, t, fs.map { case (n, ft) => n -> compile(s"$label.$n", ft, top = false, compat) })
    case _ => new Scalar(label, t, top, compat)
  }

  private def struct(label: String, t: AType, fields: Seq[(String, Node)]): Obj =
    new Obj(label, t, fields.map(_._1.intern()).toArray, fields.map(_._2).toArray)

  /** A line's document: its top-level fields are labelled by name. */
  private def compileDocument(fields: Vector[(String, AType)], compat: Boolean): Obj =
    struct("", AType.AStruct(fields), fields.map { case (n, t) => n -> compile(n, t, top = true, compat) })

  /** A value that does not read: its error, raised once the line has parsed. */
  private final class Bad(val error: Throwable)

  private val wrapperKeys = Set("$oid", "$numberLong", "$numberInt", "$numberDouble", "$date", "$binary")
  private val textWrapperKeys = Set("$oid", "$numberLong", "$numberInt", "$numberDouble")
  private val noRows = new GenericArrayData(Array.empty[Any])

  private def userError(message: String): Throwable =
    new SparkException("USER_RAISED_EXCEPTION", Map("errorMessage" -> message), null)

  private def rows(line: UTF8String, doc: Obj, zone: ZoneId): ArrayData = {
    val (bytes, base) = line.getBaseObject match {
      case b: Array[Byte] => (b, (line.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ => (line.getBytes, 0)
    }
    val p = factory.createParser(bytes, base, line.numBytes)
    val read = new Reader(p, bytes, base, zone)
    documents(p)(read.obj(doc)) match {
      case None => new GenericArrayData(Array[Any](new GenericInternalRow(doc.names.length)))
      case Some(Nil) => noRows
      case Some(docs) => new GenericArrayData(docs.map {
        case b: Bad => throw b.error
        case row => row
      }.toArray)
    }
  }

  /** The documents of the line `p` parses, each read by `doc` from its
    * first token to its last: none for a blank line, one per element of
    * a top-level array of documents; None for a line that is not a
    * document or an array of them. Text after the document is ignored. */
  private[graft] def documents[A](p: JsonParser)(doc: => A): Option[Seq[A]] =
    try p.nextToken() match {
      case null => Some(Nil)
      case START_OBJECT => Some(doc :: Nil)
      case START_ARRAY =>
        val out = ArrayBuffer.empty[A]
        while (p.nextToken() == START_OBJECT) out += doc
        if (p.currentToken == END_ARRAY) Some(out.toSeq) else None
      case _ => None
    } catch { case _: JsonProcessingException => None } finally p.close()

  /** Reads values off `p`, which parses `bytes` from `base`. Each read
    * starts at a value's first token and ends on its last. */
  private final class Reader(p: JsonParser, bytes: Array[Byte], base: Int, zone: ZoneId) {

    def read(n: Node): Any = n match {
      case s: Scalar => scalar(s)
      case t: Text => text(t.top)
      case a: Arr => array(a)
      case o: Obj => obj(o)
    }

    /** The first [[Bad]] value in schema order, or null. */
    private def firstBad(values: Array[Any]): Bad = {
      var i = 0
      while (i < values.length) {
        values(i) match {
          case b: Bad => return b
          case _ => i += 1
        }
      }
      null
    }

    def obj(o: Obj): Any = p.currentToken match {
      case START_OBJECT =>
        val values = new Array[Any](o.names.length)
        var next = 0 // documents usually hold the schema's fields in its order
        while (p.nextToken() == FIELD_NAME) {
          val key = p.currentName
          val i: Int = if (next < values.length && o.names(next) == key) next else o.index.getOrDefault(key, -1)
          p.nextToken()
          if (i < 0) p.skipChildren()
          else {
            values(i) = read(o.nodes(i))
            next = i + 1
          }
        }
        val bad = firstBad(values)
        if (bad != null) bad else new GenericInternalRow(values)
      case VALUE_NULL => null
      case _ => unreadable(o)
    }

    private def array(a: Arr): Any = p.currentToken match {
      case START_ARRAY =>
        val values = ArrayBuffer.empty[Any]
        while (p.nextToken() != END_ARRAY) values += read(a.elem)
        val out = values.toArray
        val bad = firstBad(out)
        if (bad != null) bad else new GenericArrayData(out)
      case VALUE_NULL => null
      case _ => unreadable(a)
    }

    /** A string column's value; at the top level `''` is null. */
    private def text(top: Boolean): Any = p.currentToken match {
      case VALUE_STRING => nonEmpty(top, p.getText)
      case VALUE_NULL => null
      case START_OBJECT =>
        val start = tokenStart
        var keys = 0
        var wrapped: String = null
        while (p.nextToken() == FIELD_NAME) {
          keys += 1
          val key = p.currentName
          if (p.nextToken() == VALUE_STRING && keys == 1 && textWrapperKeys(key)) wrapped = p.getText
          else p.skipChildren()
        }
        if (keys == 1 && wrapped != null) nonEmpty(top, wrapped) else UTF8String.fromBytes(json(start))
      case START_ARRAY =>
        val start = tokenStart
        p.skipChildren()
        UTF8String.fromBytes(json(start))
      case _ => UTF8String.fromString(p.getText) // a number or bool as written
    }

    private def nonEmpty(top: Boolean, text: String): UTF8String =
      if (top && text.isEmpty) null else UTF8String.fromString(text)

    private def scalar(s: Scalar): Any = p.currentToken match {
      case VALUE_NULL => null
      case VALUE_STRING => fromText(p.getText, s.t, s.compat, s.label, zone)
      case _ =>
        val start = tokenStart
        val v = typed(s.kind)
        if (v == null) cannotRead(start, kindNames(s.kind), s.label)
        else if (s.top && s.compat && falsy(v, s.kind)) null
        else narrow(s, v)
    }

    private def unreadable(n: Node): Bad = {
      val start = tokenStart
      p.skipChildren()
      cannotRead(start, n.t.sparkType.simpleString, n.label)
    }

    /** The byte where the current value starts, for an object or array
      * (-1 for a scalar token). */
    private def tokenStart: Int =
      if (p.currentToken == START_OBJECT || p.currentToken == START_ARRAY) p.currentTokenLocation.getByteOffset.toInt
      else -1

    /** The value that started at `start` ([[tokenStart]]) and ends at the
      * current token does not read as `typeName`. */
    private def cannotRead(start: Int, typeName: String, label: String): Bad = {
      val written = if (start < 0) p.getText else new String(json(start), UTF_8)
      new Bad(userError(s"ValueError: cannot read $written as $typeName for column $label"))
    }

    /** The value that started at byte `start` and ends at the current token. */
    private def json(start: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, base + start, base + p.currentLocation.getByteOffset.toInt)

    /** The current value read as `kind`; null when it does not read. */
    private def typed(kind: Int): AnyRef = p.currentToken match {
      case VALUE_TRUE | VALUE_FALSE =>
        val b = p.currentToken == VALUE_TRUE
        if (kind == Bool) Boolean.box(b)
        else if (kind == Lng || kind == Dbl) fromDouble(if (b) 1 else 0, kind)
        else null
      case VALUE_NUMBER_INT if kind == Lng =>
        if (p.getNumberType == JsonParser.NumberType.BIG_INTEGER) p.getBigIntegerValue else Long.box(p.getLongValue)
      case VALUE_NUMBER_FLOAT if kind == Lng =>
        // a plain decimal truncates exactly; other spellings go through a double
        val d = decimal(p.getText)
        if (d == null) fromDouble(p.getDoubleValue, kind)
        else try Long.box(d.setScale(0, RoundingMode.DOWN).longValueExact) catch { case _: ArithmeticException => null }
      case VALUE_NUMBER_FLOAT =>
        // a plain decimal has no negative zero
        val d = p.getDoubleValue
        fromDouble(if (d == 0 && decimal(p.getText) != null) 0.0 else d, kind)
      case VALUE_NUMBER_INT => fromDouble(p.getDoubleValue, kind)
      case START_OBJECT => wrapper(kind)
      case _ =>
        p.skipChildren()
        null
    }

    /** A number token spelled as a plain decimal of at most 38 digits, or null. */
    private def decimal(text: String): java.math.BigDecimal =
      if (!text.forall(c => c == '-' || c == '.' || (c >= '0' && c <= '9'))) null
      else {
        val d = new java.math.BigDecimal(text)
        if (d.scale <= 38 && d.precision <= 38) d else null
      }

    /** A number as Spark's ANSI casts take a double: truncated into a
      * bigint (out of range does not read), epoch seconds into a
      * timestamp. */
    private def fromDouble(d: Double, kind: Int): AnyRef = kind match {
      case Lng if math.floor(d) <= Long.MaxValue && math.ceil(d) >= Long.MinValue => Long.box(d.toLong)
      case Dbl => Double.box(d)
      case Bool => Boolean.box(d == 1)
      case Ts if !d.isNaN && !d.isInfinite => Long.box((d * 1000000L).toLong)
      case _ => null
    }

    /** The BSON wrapper object at the current token read as `kind`: its
      * single wrapper key, or `$binary` beside one other key (a legacy
      * `$type`); null otherwise. */
    private def wrapper(kind: Int): AnyRef = {
      var keys = 0
      var first: String = null
      var value: AnyRef = null
      var binary: AnyRef = null
      var hasBinary = false
      while (p.nextToken() == FIELD_NAME) {
        keys += 1
        val key = p.currentName
        p.nextToken()
        if (key == "$binary") {
          hasBinary = true
          binary = wrapped(key, kind)
        } else if (keys == 1 && wrapperKeys(key)) {
          first = key
          value = wrapped(key, kind)
        } else p.skipChildren()
      }
      if (keys == 1 && first != null) value else if (hasBinary && keys <= 2) binary else null
    }

    private def wrapped(key: String, kind: Int): AnyRef = key match {
      case "$date" if kind == Ts =>
        if (p.currentToken == VALUE_STRING)
          DateTimeUtils.stringToTimestamp(UTF8String.fromString(p.getText), zone).map(Long.box).orNull
        else typed(Lng) match {
          case ms: java.lang.Long =>
            try Long.box(Math.multiplyExact(ms.longValue, 1000L)) catch { case _: ArithmeticException => null }
          case _ => null
        }
      case "$binary" if kind == Bin =>
        val base64 = p.currentToken match {
          case VALUE_STRING => p.getText
          case START_OBJECT =>
            var found: String = null
            while (p.nextToken() == FIELD_NAME) {
              val field = p.currentName
              if (p.nextToken() == VALUE_STRING && field == "base64") found = p.getText else p.skipChildren()
            }
            found
          case _ =>
            p.skipChildren()
            null
        }
        if (base64 == null) null
        else try java.util.Base64.getMimeDecoder.decode(base64) catch { case _: IllegalArgumentException => null }
      case "$numberLong" | "$numberInt" | "$numberDouble" =>
        if (p.currentToken != VALUE_STRING) typed(kind) // a number
        else try {
          if (kind == Lng && key != "$numberDouble") Long.box(UTF8String.fromString(p.getText).toLongExact)
          else fromDouble(java.lang.Double.parseDouble(p.getText.trim), kind)
        } catch { case _: NumberFormatException => null }
      case _ =>
        p.skipChildren()
        null
    }

    /** The reference's `if field`: 0, 0.0 and false are falsy; a date or
      * bytes never are. */
    private def falsy(v: AnyRef, kind: Int): Boolean = kind match {
      case Bool => !v.asInstanceOf[java.lang.Boolean]
      case Lng => v.isInstanceOf[java.lang.Long] && v.asInstanceOf[java.lang.Long] == 0L
      case Dbl => v.asInstanceOf[java.lang.Double] == 0.0
      case _ => false
    }

    /** A value read as its kind cast to the column's Spark type, as ANSI
      * casts it (an integer out of range raises). */
    private def narrow(s: Scalar, v: AnyRef): Any = v match {
      case i: java.math.BigInteger => integer(BigInt(i), s.t.sparkType, zone)
      case _ => s.t.sparkType match {
        case to @ (IntegerType | ShortType | ByteType | _: DecimalType) =>
          val i = v.asInstanceOf[java.lang.Long].longValue
          integer(i, to, castError(i, LongType, to, zone))
        case FloatType => v.asInstanceOf[java.lang.Double].floatValue
        case DateType => DateTimeUtils.microsToDays(v.asInstanceOf[java.lang.Long].longValue, zone)
        case _ => v
      }
    }
  }

  /** [[fromText]], raising where the reader would. */
  private[functions] def castText(text: String, t: AType, compat: Boolean, label: String, zone: ZoneId): Any =
    fromText(text, t, compat, label, zone) match {
      case b: Bad => throw b.error
      case v => v
    }

  /** `i` as integer type `to`, or `overflow` where it does not fit. */
  private def integer(i: Long, to: DataType, overflow: => Bad): Any = to match {
    case ByteType if i.toByte == i => i.toByte
    case ShortType if i.toShort == i => i.toShort
    case IntegerType if i.toInt == i => i.toInt
    case LongType => i
    case _: DecimalType => Decimal(i)
    case _ => overflow
  }

  /** `i` as integer type `to`: a uint64 column (`decimal(20,0)`) holds
    * any 20 digits. Where it does not fit, the error Spark's ANSI cast of
    * its text raises. */
  private def integer(i: BigInt, to: DataType, zone: ZoneId): Any = {
    lazy val overflow = castError(UTF8String.fromString(i.toString), StringType, to, zone)
    to match {
      case _ if i.isValidLong => integer(i.toLong, to, overflow)
      case d: DecimalType =>
        val v = Decimal(BigDecimal(i))
        if (v.changePrecision(d.precision, d.scale)) v else overflow
      case _ => overflow
    }
  }

  /** The error Spark's ANSI cast of `v` to `to` raises. */
  private def castError(v: Any, from: DataType, to: DataType, zone: ZoneId): Bad = new Bad(
    try {
      Cast(Literal(v, from), to, Some(zone.getId), EvalMode.ANSI).eval()
      userError(s"ValueError: $v is out of range for ${to.simpleString}")
    } catch { case e: Throwable => e })

  /** Text cast to the non-string scalar type `t` as the reference's cast
    * table casts it (mongo2pq/schema.py:123-158), through Python's literal
    * grammars (`TypeLattice`'s `int()`, `float()`, epoch and
    * `fromisoformat`): `''` is null; a literal Python rejects is a
    * [[Bad]] `ValueError: invalid <grammar> literal for column <label>`,
    * a value out of the type's range the error Spark's ANSI cast raises.
    *
    *  - bool: 'true' or 'yes' in any case (the evident intent of the
    *    reference's `cast_boolean`); in `compat` mode always false, as its
    *    bug gives it (both branches test `isinstance(value, str)`,
    *    schema.py:128-135);
    *  - timestamp[s]: epoch seconds as `int()` else `float()`
    *    (`cast_timestamp_compat`, schema.py:143-150); outside `compat`
    *    mode ISO text too, where the reference raises;
    *  - date32 and date64: `fromisoformat`, in the session's zone;
    *  - binary: the text's UTF-8 bytes. */
  private def fromText(text: String, t: AType, compat: Boolean, label: String, zone: ZoneId): Any = {
    def invalid(grammar: String) =
      new Bad(userError(s"ValueError: invalid $grammar literal for column $label: '$text'"))
    def epoch: Option[Double] =
      TypeLattice.parsePythonInt(text).map(_.toDouble).orElse(TypeLattice.parsePythonFloat(text))
    def micros(t: LocalDateTime): Long = DateTimeUtils.instantToMicros(t.atZone(zone).toInstant)
    /** Epoch seconds as a timestamp, as Spark's ANSI double cast takes them. */
    def seconds(d: Double): Any = {
      val us = d * 1000000L
      if (!d.isNaN && !d.isInfinite && math.floor(us) <= Long.MaxValue && math.ceil(us) >= Long.MinValue) us.toLong
      else castError(d, DoubleType, TimestampType, zone)
    }
    if (text.isEmpty) null
    else t match {
      case AType.ABool => !compat && { val l = text.toLowerCase(Locale.ROOT); l == "true" || l == "yes" }
      case _ if AType.isAnyInt(t) =>
        TypeLattice.parsePythonInt(text).fold[Any](invalid("int"))(integer(_, t.sparkType, zone))
      case _ if AType.isFloat(t) => TypeLattice.parsePythonFloat(text).fold[Any](invalid("float"))(d =>
        if (t == AType.AFloat64) d else java.lang.Float.parseFloat(java.lang.Double.toString(d)))
      case AType.ATimestampS if compat => epoch.fold[Any](invalid("epoch"))(seconds)
      case AType.ATimestampS => epoch.map(seconds).orElse(TypeLattice.parseIsoDateTime(text).map(micros))
        .getOrElse(invalid("epoch-or-iso"))
      case AType.ADate32 =>
        TypeLattice.parseIsoDateTime(text).fold[Any](invalid("iso"))(_.toLocalDate.toEpochDay.toInt)
      case AType.ADate64 => TypeLattice.parseIsoDateTime(text).fold[Any](invalid("iso"))(micros)
      case _ => text.getBytes(UTF_8) // binary
    }
  }
}

/** `py_cast(text, type, mode, column)`: `text` cast to the `!schema`
  * scalar type `type` (a non-string alias such as 'int32') in `mode`
  * ('strict' or 'compat'), as `parse_ejson` casts text in a typed field;
  * `column` names the column in its errors. `Normalizer` casts text
  * columns through it. Codegen is one call. */
case class PyCast(child: Expression, typeAlias: String, mode: String, column: String,
    timeZoneId: Option[String] = None) extends UnaryExpression with TimeZoneAwareExpression {

  @transient private lazy val to: Option[AType] = AType.forAlias(typeAlias).filter {
    case AType.AString | _: AType.AList | _: AType.AStruct => false
    case _ => true
  }
  @transient private lazy val compat = mode == "compat"

  override def dataType: DataType = to.fold[DataType](NullType)(_.sparkType)
  override def nullable: Boolean = true
  override def prettyName: String = "py_cast"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckFailure(s"py_cast reads STRING, not ${child.dataType}")
    else if (to.isEmpty) TypeCheckFailure(s"py_cast: not a non-string scalar type: $typeAlias")
    else if (mode != "strict" && mode != "compat") TypeCheckFailure(s"py_cast: unknown mode '$mode'")
    else TypeCheckResult.TypeCheckSuccess

  override def withTimeZone(tz: String): PyCast = copy(timeZoneId = Option(tz))

  def cast(text: UTF8String): Any = ParseExtendedJson.castText(text.toString, to.get, compat, column, zoneId)

  override def nullSafeEval(text: Any): Any = cast(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pyCast", this)
    val value = ctx.freshName("value")
    nullSafeCodeGen(ctx, ev, text =>
      s"""Object $value = $self.cast($text);
         |${ev.isNull} = $value == null;
         |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $value;
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object PyCast {

  /** The SQL function's builder: `type`, `mode` and `column` are literals. */
  def build(args: Seq[Expression]): PyCast =
    PyCast(args(0), args(1).eval().toString, args(2).eval().toString, args(3).eval().toString)
}
