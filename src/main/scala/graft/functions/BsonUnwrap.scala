package graft.functions

import java.math.RoundingMode
import java.time.ZoneId

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.VariantUtil._
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** `bson_unwrap(v, type[, name])`: one extended-JSON leaf, parsed as
  * VARIANT, read as `type` ('boolean', 'bigint', 'double', 'timestamp',
  * 'binary' or 'string'). The value's type header is read once and
  * dispatches:
  *
  *  - a number is read as 'bigint', 'double' or 'timestamp' (a fraction
  *    truncates into 'bigint', as Spark's ANSI cast does; 'timestamp'
  *    takes epoch seconds), and as 'boolean' it is true when it is 1, as
  *    `Normalizer` casts a number; a bool is read as 'boolean', or as 1
  *    or 0;
  *  - an object with a single BSON wrapper key — `$oid`, `$numberLong`,
  *    `$numberInt`, `$numberDouble`, `$date` (epoch millis, ISO text or
  *    `{"$numberLong": millis}`) or `$binary` (`{"base64": …}`, or text
  *    beside a legacy `$type`) — is read through that key;
  *  - a string, or a JSON null, is NULL: the EL reader sends text to
  *    `Normalizer`'s Python-grammar cast.
  *
  * Any other value — an array, a plain sub-document, a wrapper that
  * does not read as `type`, malformed wrapper text — raises a cast error
  * that names column `name`, as a bad row crashes the reference's
  * extract. As 'string' the read is a string's own text or the text of
  * `$oid` and the `$number*` wrappers, and NULL for anything else: the
  * caller keeps that value's JSON.
  *
  * Strings are read as their UTF-8 bytes: Spark 4.1.2's own variant
  * string reads (`VariantUtil.getString`, so `variant_get`, casts and
  * `to_json`) decode with the JVM's default charset, which turns
  * non-ASCII text into U+FFFD under a non-UTF-8 locale.
  *
  * Codegen is one static call, so the EL read stays inside
  * WholeStageCodegen.
  */
case class BsonUnwrap(child: Expression, to: DataType, name: String, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = to
  override def nullable: Boolean = true
  override def prettyName: String = "bson_unwrap"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == VariantType && BsonUnwrap.types.contains(to)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"bson_unwrap cannot read ${child.dataType} as $to")

  override def withTimeZone(tz: String): BsonUnwrap = copy(timeZoneId = Option(tz))

  /** `v` read as `to`, as Catalyst holds the value, or NULL. */
  def unwrap(v: VariantVal): AnyRef = BsonUnwrap.read(v, to, name, zoneId)

  override def nullSafeEval(v: Any): Any = unwrap(v.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (self, r) = (ctx.addReferenceObj("bsonUnwrap", this), ctx.freshName("read"))
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |Object $r = $self.unwrap($v);
         |${ev.isNull} = $r == null;
         |if ($r != null) ${ev.value} = (${CodeGenerator.boxedType(to)}) $r;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object BsonUnwrap {
  private val types = Seq(BooleanType, LongType, DoubleType, TimestampType, BinaryType, StringType)

  /** The SQL function's builder: `type` and `name` are literals. */
  def build(args: Seq[Expression]): BsonUnwrap =
    BsonUnwrap(args(0), DataType.fromDDL(args(1).eval().toString), args.lift(2).fold("?")(_.eval().toString))

  /** `v` read as `to`, as Catalyst holds the value, or NULL. */
  def read(v: VariantVal, to: DataType, name: String, zone: ZoneId): AnyRef = {
    val (b, meta) = (v.getValue, v.getMetadata)
    getType(b, 0) match {
      case Type.NULL => null
      case Type.STRING => if (to == StringType) text(b, 0) else null
      case Type.OBJECT if to == StringType => wrapperText(b, meta)
      case _ if to == StringType => null
      case _ =>
        val r = try value(b, meta, 0, to, zone)
          catch { case _: NumberFormatException | _: ArithmeticException | _: IllegalArgumentException => null }
        if (r != null) r
        else throw new SparkException("USER_RAISED_EXCEPTION", Map("errorMessage" ->
          s"ValueError: cannot read ${v.toJson(zone)} as ${to.simpleString} for column $name"), null)
    }
  }

  /** The value at `pos` read as `to` (not 'string'); NULL when it does not read. */
  private def value(b: Array[Byte], meta: Array[Byte], pos: Int, to: DataType, zone: ZoneId): AnyRef =
    getType(b, pos) match {
      case Type.BOOLEAN => to match {
        case BooleanType => Boolean.box(getBoolean(b, pos))
        case LongType | DoubleType => fromDouble(if (getBoolean(b, pos)) 1 else 0, to)
        case _ => null
      }
      case Type.LONG => if (to == LongType) Long.box(getLong(b, pos)) else fromDouble(getLong(b, pos).toDouble, to)
      case Type.DECIMAL =>
        if (to == LongType) Long.box(getDecimal(b, pos).setScale(0, RoundingMode.DOWN).longValueExact)
        else fromDouble(getDecimal(b, pos).doubleValue, to)
      case Type.DOUBLE => fromDouble(getDouble(b, pos), to)
      case Type.OBJECT => wrapper(b, meta, pos, to, zone)
      case _ => null
    }

  /** A number as Spark's ANSI casts take a double: truncated into
    * 'bigint' (out of range raises), epoch seconds into 'timestamp'. */
  private def fromDouble(d: Double, to: DataType): AnyRef = to match {
    case LongType if math.floor(d) <= Long.MaxValue && math.ceil(d) >= Long.MinValue => Long.box(d.toLong)
    case LongType => throw new ArithmeticException(s"$d is out of range for BIGINT")
    case DoubleType => Double.box(d)
    case BooleanType => Boolean.box(d == 1)
    case TimestampType if !d.isNaN && !d.isInfinite => Long.box((d * 1000000L).toLong)
    case _ => null
  }

  private def wrapper(b: Array[Byte], meta: Array[Byte], pos: Int, to: DataType, zone: ZoneId): AnyRef = {
    val (key, at) = wrapperField(b, meta, pos)
    lazy val inner = getType(b, at)
    key match {
      case "$date" if to == TimestampType =>
        if (inner == Type.STRING) DateTimeUtils.stringToTimestamp(text(b, at), zone).map(Long.box).orNull
        else value(b, meta, at, LongType, zone) match {
          case ms: java.lang.Long => Long.box(Math.multiplyExact(ms.longValue, 1000L))
          case _ => null
        }
      case "$binary" if to == BinaryType =>
        val at64 = if (inner == Type.OBJECT) field(b, meta, at, "base64") else at
        if (at64 < 0 || getType(b, at64) != Type.STRING) null
        else java.util.Base64.getMimeDecoder.decode(text(b, at64).toString)
      case "$numberLong" | "$numberInt" | "$numberDouble" =>
        // canonical text, or a number
        if (inner != Type.STRING) value(b, meta, at, to, zone)
        else if (to == LongType && key != "$numberDouble") Long.box(text(b, at).toLongExact)
        else fromDouble(java.lang.Double.parseDouble(text(b, at).toString.trim), to)
      case _ => null
    }
  }

  /** The text of an `$oid` or `$number*` wrapper at the top of `b`, or NULL. */
  private def wrapperText(b: Array[Byte], meta: Array[Byte]): UTF8String = {
    val (key, at) = wrapperField(b, meta, 0)
    if (key == null || key == "$date" || key == "$binary" || getType(b, at) != Type.STRING) null else text(b, at)
  }

  private val wrapperKeys = Set("$oid", "$numberLong", "$numberInt", "$numberDouble", "$date", "$binary")

  /** The wrapper key of the object at `pos` and its value's offset: the
    * object's single key, or `$binary` beside a legacy `$type` (the
    * shapes the schema lattice types as scalars); (null, -1) otherwise. */
  private def wrapperField(b: Array[Byte], meta: Array[Byte], pos: Int): (String, Int) =
    handleObject(b, pos, (size: Int, idSize: Int, offsetSize: Int, idStart: Int, offsetStart: Int,
        dataStart: Int) => {
      def key(i: Int) = getMetadataKey(meta, readUnsigned(b, idStart + idSize * i, idSize))
      def at(i: Int) = dataStart + readUnsigned(b, offsetStart + offsetSize * i, offsetSize)
      if (size == 1 && wrapperKeys(key(0))) (key(0), at(0))
      else if (size == 2 && key(0) == "$binary") ("$binary", at(0))
      else if (size == 2 && key(1) == "$binary") ("$binary", at(1))
      else (null, -1)
    })

  /** Offset of `name`'s value in the object at `pos`, or -1. */
  private def field(b: Array[Byte], meta: Array[Byte], pos: Int, name: String): Int =
    handleObject(b, pos, (size: Int, idSize: Int, offsetSize: Int, idStart: Int, offsetStart: Int,
        dataStart: Int) => {
      val i = (0 until size).indexWhere(i => getMetadataKey(meta, readUnsigned(b, idStart + idSize * i, idSize)) == name)
      Int.box(if (i < 0) -1 else dataStart + readUnsigned(b, offsetStart + offsetSize * i, offsetSize))
    })

  /** The string value at `pos` as its UTF-8 bytes, uncopied and with no
    * charset decode. */
  private def text(b: Array[Byte], pos: Int): UTF8String =
    if ((b(pos) & BASIC_TYPE_MASK) == SHORT_STR)
      UTF8String.fromBytes(b, pos + 1, (b(pos) >> BASIC_TYPE_BITS) & TYPE_INFO_MASK)
    else UTF8String.fromBytes(b, pos + 1 + U32_SIZE, readUnsigned(b, pos + 1, U32_SIZE))
}
