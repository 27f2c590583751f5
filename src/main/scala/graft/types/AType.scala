package graft.types

import org.apache.spark.sql.types._

/** Arrow-like logical type lattice domain.
  *
  * The reference engine's schema inference operates over pyarrow types
  * (reference: mongo2pq/schema.py:249-389). Spark's `DataType` is coarser
  * (no unsigned ints, no float16, no date64 / timestamp[s] distinction), so
  * the lattice is defined over this ADT and only mapped to Spark types at
  * the boundary. This keeps the unification semantics bit-for-bit equal to
  * the reference while the execution engine stays pure Spark.
  */
sealed trait AType extends Serializable {
  /** Arrow-style alias string, round-trippable through the YAML schema
    * files the reference writes (mongo2pq/schema.py:87-108: `str(type)`)
    * and reads (mongo2pq/schema.py:179-181: `pa.type_for_alias`). */
  def alias: String
  /** The Spark execution type this lattice type lowers to. */
  def sparkType: DataType
}

object AType {
  // ---- signed ints (schema.py:260-265) ----
  case object AInt8  extends AType { val alias = "int8";  val sparkType: DataType = ByteType }
  case object AInt16 extends AType { val alias = "int16"; val sparkType: DataType = ShortType }
  case object AInt32 extends AType { val alias = "int32"; val sparkType: DataType = IntegerType }
  case object AInt64 extends AType { val alias = "int64"; val sparkType: DataType = LongType }
  // ---- unsigned ints (schema.py:267-272); Spark has no unsigned, widen ----
  case object AUInt8  extends AType { val alias = "uint8";  val sparkType: DataType = ShortType }
  case object AUInt16 extends AType { val alias = "uint16"; val sparkType: DataType = IntegerType }
  case object AUInt32 extends AType { val alias = "uint32"; val sparkType: DataType = LongType }
  case object AUInt64 extends AType { val alias = "uint64"; val sparkType: DataType = DecimalType(20, 0) }
  // ---- floats (schema.py:274-279) ----
  case object AFloat16 extends AType { val alias = "halffloat"; val sparkType: DataType = FloatType }
  case object AFloat32 extends AType { val alias = "float";  val sparkType: DataType = FloatType }
  case object AFloat64 extends AType { val alias = "double"; val sparkType: DataType = DoubleType }
  // ---- temporal (schema.py:281-286, 352-360) ----
  case object ADate32 extends AType { val alias = "date32[day]"; val sparkType: DataType = DateType }
  case object ADate64 extends AType { val alias = "date64[ms]";  val sparkType: DataType = TimestampType }
  case object ATimestampS extends AType { val alias = "timestamp[s]"; val sparkType: DataType = TimestampType }
  // ---- scalar leaves ----
  case object ABool   extends AType { val alias = "bool";   val sparkType: DataType = BooleanType }
  case object AString extends AType { val alias = "string"; val sparkType: DataType = StringType }
  case object ABinary extends AType { val alias = "binary"; val sparkType: DataType = BinaryType }
  // ---- nested [EXT]: the reference crashes on these (schema.py:332-335,
  // it raises the non-exception `NotImplemented`); the Spark-native engine
  // lifts the restriction (SURVEY.md §7.4.4) ----
  final case class AList(elem: AType) extends AType {
    def alias = s"list<item: ${elem.alias}>"
    def sparkType: DataType = ArrayType(elem.sparkType)
  }
  /** pyarrow's `struct<name: type, ...>`; a name holding one of `<>,:`
    * or a backquote is backquoted (pyarrow prints it bare, and no parser
    * could read it back). */
  final case class AStruct(fields: Vector[(String, AType)]) extends AType {
    def alias = fields.map { case (n, t) =>
      val name = if (n.exists("<>,:`".contains(_))) "`" + n.replace("`", "``") + "`" else n
      s"$name: ${t.alias}"
    }.mkString("struct<", ", ", ">")
    def sparkType: DataType = StructType(fields.map { case (n, t) => StructField(n, t.sparkType) })
  }

  private val intOrder   = Vector[AType](AInt64, AInt32, AInt16, AInt8)
  private val uintOrder  = Vector[AType](AUInt64, AUInt32, AUInt16, AUInt8)
  private val floatOrder = Vector[AType](AFloat64, AFloat32, AFloat16)
  private val dateOrder  = Vector[AType](ADate64, ADate32)

  def isInt(t: AType): Boolean      = intOrder.contains(t)
  def isUInt(t: AType): Boolean     = uintOrder.contains(t)
  /** pyarrow's `pa_types.is_integer` — true for signed AND unsigned
    * (schema.py:258-263 probes it as the int-category predicate). */
  def isAnyInt(t: AType): Boolean   = isInt(t) || isUInt(t)
  def isFloat(t: AType): Boolean    = floatOrder.contains(t)
  def isDate(t: AType): Boolean     = dateOrder.contains(t)
  def isTemporal(t: AType): Boolean = isDate(t) || t == ATimestampS
  def isBinary(t: AType): Boolean   = t == ABinary

  /** Least-upper-bound of two lattice types, reproducing
    * `unify_types` (mongo2pq/schema.py:247-301) branch for branch:
    *  - int category: the predicate is `pa_types.is_integer`, which is
    *    true for unsigned ints too, while the width probes are the
    *    SIGNED tests only (schema.py:258-263) — so unify(int32, uint32)
    *    = int32 (the signed probe hits), and a pure-unsigned pair falls
    *    through to the unsigned category (schema.py:265-270);
    *  - same category -> widest member wins, `type1` preferred on ties
    *    (the reference probes type1 before type2 per width: schema.py:251-255);
    *  - int x float -> the float, unsigned included (schema.py:286-289);
    *  - numeric x temporal -> the numeric, unsigned included
    *    (schema.py:291-296) — the epoch-timestamp heuristic is the
    *    weaker claim;
    *  - binary is contagious (schema.py:298-299);
    *  - string is the lattice top (schema.py:301).
    * Nested types are an [EXT]: equal-shape unify recursively, anything
    * else falls to string (the documented lattice top).
    */
  def unify(t1: AType, t2: AType): AType = {
    def category(pred: AType => Boolean, order: Vector[AType]): Option[AType] =
      if (pred(t1) && pred(t2)) order.collectFirst {
        case w if w == t1 => t1
        case w if w == t2 => t2
      } else None

    category(isAnyInt, intOrder)
      .orElse(category(isUInt, uintOrder))
      .orElse(category(isFloat, floatOrder))
      .orElse(category(isDate, dateOrder))
      .getOrElse {
        (t1, t2) match {
          case (a, b) if a == b                      => a
          case (a, b) if isAnyInt(a) && isFloat(b)   => b
          case (a, b) if isFloat(a) && isAnyInt(b)   => a
          case (a, b) if (isAnyInt(a) || isFloat(a)) && isTemporal(b) => a
          case (a, b) if isTemporal(a) && (isAnyInt(b) || isFloat(b)) => b
          case (a, b) if isBinary(a) || isBinary(b)  => ABinary
          // ---- [EXT] nested unify; not in reference (it rejects nested) ----
          case (AList(e1), AList(e2))                => AList(unify(e1, e2))
          case (AStruct(f1), AStruct(f2)) =>
            val m2 = f2.toMap
            val merged = f1.map { case (n, t) => n -> m2.get(n).map(unify(t, _)).getOrElse(t) }
            val extra = f2.filterNot { case (n, _) => f1.exists(_._1 == n) }
            AStruct(merged ++ extra)
          case _                                     => AString
        }
      }
  }

  /** Alias-string -> AType, mirroring `pa.type_for_alias` for every alias
    * the engine can emit (reference load path: mongo2pq/schema.py:179-181).
    * Unknown alias -> None (caller raises SchemaParseError equivalent). */
  def forAlias(alias: String): Option[AType] = {
    val flat: Map[String, AType] = Map(
      "int8" -> AInt8, "int16" -> AInt16, "int32" -> AInt32, "int64" -> AInt64,
      "int" -> AInt64,
      "uint8" -> AUInt8, "uint16" -> AUInt16, "uint32" -> AUInt32, "uint64" -> AUInt64,
      "halffloat" -> AFloat16, "float16" -> AFloat16,
      "float" -> AFloat32, "float32" -> AFloat32,
      "double" -> AFloat64, "float64" -> AFloat64,
      "date32" -> ADate32, "date32[day]" -> ADate32,
      "date64" -> ADate64, "date64[ms]" -> ADate64,
      "timestamp[s]" -> ATimestampS,
      "bool" -> ABool, "boolean" -> ABool,
      "string" -> AString, "str" -> AString, "utf8" -> AString,
      "binary" -> ABinary, "bytes" -> ABinary
    )
    val a = alias.trim
    flat.get(a).orElse {
      if (a.startsWith("list<item:") && a.endsWith(">"))
        forAlias(a.stripPrefix("list<item:").stripSuffix(">").trim).map(AList)
      else if (a.startsWith("struct<") && a.endsWith(">")) structFields(a.substring(7, a.length - 1)).map(AStruct)
      else None
    }
  }

  /** The fields of a struct alias's `name: type, ...` body, as
    * [[AStruct.alias]] writes them. */
  private def structFields(body: String): Option[Vector[(String, AType)]] = {
    // index just past the backquoted name starting at i
    def quoted(i: Int): Int = {
      var j = i + 1
      while (j < body.length && (body(j) != '`' || body.startsWith("``", j))) j += (if (body(j) == '`') 2 else 1)
      j + 1
    }
    val fields = Vector.newBuilder[(String, AType)]
    var i = 0
    while (i < body.length) {
      val nameEnd = if (body(i) == '`') quoted(i) else body.indexOf(':', i)
      if (nameEnd < 0 || !body.startsWith(": ", nameEnd)) return None
      val name =
        if (body(i) == '`') body.substring(i + 1, nameEnd - 1).replace("``", "`") else body.substring(i, nameEnd)
      // the type runs to the next comma outside brackets and backquotes
      var j = nameEnd + 2
      var depth = 0
      while (j < body.length && (depth > 0 || body(j) != ',')) {
        body(j) match {
          case '<' => depth += 1; j += 1
          case '>' => depth -= 1; j += 1
          case '`' => j = quoted(j)
          case _ => j += 1
        }
      }
      forAlias(body.substring(nameEnd + 2, j)) match {
        case Some(t) => fields += name -> t
        case None => return None
      }
      i = if (j < body.length) j + 2 else j
    }
    Some(fields.result())
  }

  /** Spark DataType -> lattice type (used when a schema originates from a
    * parquet/catalog source rather than inference). */
  def fromSpark(dt: DataType): AType = dt match {
    case ByteType      => AInt8
    case ShortType     => AInt16
    case IntegerType   => AInt32
    case LongType      => AInt64
    case FloatType     => AFloat32
    case DoubleType    => AFloat64
    case BooleanType   => ABool
    case DateType      => ADate32
    case TimestampType => ADate64
    case StringType    => AString
    case BinaryType    => ABinary
    case ArrayType(e, _) => AList(fromSpark(e))
    case StructType(fs)  => AStruct(fs.toVector.map(f => f.name -> fromSpark(f.dataType)))
    case _             => AString
  }
}
