package graft.types

import java.time.{Instant, LocalDate, LocalDateTime, LocalTime, ZoneOffset}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeType

/** Scalar value produced by `castFromString` — the reference returns a
  * Python primitive (mongo2pq/schema.py:306-322); we model the same
  * closed set. */
sealed trait Scalar extends Serializable
object Scalar {
  final case class SBool(v: Boolean)        extends Scalar
  final case class SLong(v: BigInt)         extends Scalar
  final case class SDouble(v: Double)       extends Scalar
  final case class SDateTime(v: LocalDateTime) extends Scalar
  final case class SString(v: String)       extends Scalar
}

/** The semantic heart of the engine: value -> type inference and the
  * string auto-cast, mirroring mongo2pq/schema.py:306-389.
  *
  * All functions are pure; the "now" used by the epoch-timestamp
  * heuristic (schema.py:325-328 compares against `datetime.now()`) is an
  * injected parameter so inference is deterministic and testable
  * (SURVEY.md §7.4.1).
  */
object TypeLattice {
  import AType._
  import Scalar._

  /** Epoch-seconds heuristic: numeric value within +-`rangeYears` *365d*
    * of `nowEpochSec` is treated as a timestamp (schema.py:325-328). */
  def isTimestamp(value: Double, nowEpochSec: Double, rangeYears: Int = 5): Boolean = {
    val yearInS = 31536000.0
    nowEpochSec - rangeYears * yearInS <= value && value <= nowEpochSec + rangeYears * yearInS
  }

  /** Reproduces `cast_from_string` (schema.py:306-322):
    * "true"/"yes" -> true, "false"/"no" -> false (case-insensitive),
    * then int, then float, then ISO datetime, else the string itself. */
  def castFromString(value: String): Scalar = {
    // Locale.ROOT: under e.g. a Turkish default locale 'I'.toLowerCase
    // is a dotless ı, which would break TRUE/INF/E-notation matching
    val lower = value.toLowerCase(java.util.Locale.ROOT)
    if (lower == "true" || lower == "yes") SBool(true)
    else if (lower == "false" || lower == "no") SBool(false)
    else parsePythonInt(value).map(SLong)
      .orElse(parsePythonFloat(value).map(SDouble))
      .orElse(parseIsoDateTime(value).map(SDateTime))
      .getOrElse(SString(value))
  }

  /** A Python digit run: underscores allowed only SINGLY and BETWEEN
    * digits — `1_`, `_1`, `1__2` all raise ValueError in `int()`/
    * `float()`, so they must fall through to string here too. */
  private val pyDigits = """\d(?:_?\d)*"""
  private val pyInt     = s"""[+-]?$pyDigits""".r
  private val pyFloat   = s"""[+-]?(?:$pyDigits(?:\\.(?:$pyDigits)?)?|\\.$pyDigits)(?:e[+-]?$pyDigits)?""".r

  /** Python numerics accept any Unicode DECIMAL digit (category Nd),
    * e.g. int("٥٤٣") == 543; fold those to ASCII so the ASCII-digit
    * grammar below (and BigInt/Double parsing) sees them. Folds by
    * CODE POINT, not UTF-16 char, so supplementary-plane Nd digits
    * (surrogate pairs, e.g. Osmanya U+104A9) convert too. */
  private def asciiDigits(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val d = Character.digit(cp, 10)
      if (d >= 0 && Character.isDigit(cp)) sb.append(('0' + d).toChar)
      else sb.appendAll(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Python `str.strip()` semantics: drops chars where `str.isspace()`
    * is true — Unicode space separators (Zs/Zl/Zp, incl. NBSP) plus
    * the bidi WS/B/S controls and NEL (U+0085). Java's `String.trim`
    * only strips <= U+0020, so `int(" 1")` would diverge. */
  private def isPySpace(ch: Char): Boolean =
    Character.isWhitespace(ch) || Character.isSpaceChar(ch) || ch == '\u0085'

  private def pythonStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** Python `int(str)`: optional sign, decimal digits (any Unicode Nd),
    * surrounding whitespace allowed (Unicode isspace set, see
    * [[pythonStrip]]), single underscores between digits allowed.
    * Arbitrary precision (the overflow-to-string probe happens later,
    * schema.py:362-371). */
  private[graft] def parsePythonInt(s: String): Option[BigInt] = {
    val t = asciiDigits(pythonStrip(s))
    if (pyInt.matches(t)) Some(BigInt(t.replace("_", ""))) else None
  }

  /** Python `float(str)`: decimal/scientific notation plus inf/nan
    * forms; underscore placement validated like `int()`; Unicode
    * decimal digits folded to ASCII like `float()` accepts. */
  private[graft] def parsePythonFloat(s: String): Option[Double] = {
    val t = asciiDigits(pythonStrip(s).toLowerCase(java.util.Locale.ROOT))
    t match {
      case "inf" | "+inf" | "infinity" | "+infinity" => Some(Double.PositiveInfinity)
      case "-inf" | "-infinity"                      => Some(Double.NegativeInfinity)
      case "nan" | "+nan" | "-nan"                   => Some(Double.NaN)
      case _ =>
        if (!pyFloat.matches(t))
          None
        else try Some(java.lang.Double.parseDouble(t.replace("_", "")))
        catch { case _: NumberFormatException => None }
    }
  }

  // -- Python 3.11 datetime.fromisoformat, faithfully ----------------
  // Verified against CPython 3.11 (the reference pins python = ^3.11):
  //   * NO surrounding whitespace (unlike int()/float())
  //   * dates: YYYY-MM-DD, YYYYMMDD, YYYY-Www[-D], YYYYWww[D]
  //     (ordinal YYYY-DDD is NOT accepted); year 1..9999; week
  //     validated against the ISO year's week count
  //   * date and time separated by ANY single character
  //     ("2024-01-01X12:00" parses; "2024-01-01+05:00" is date,
  //     separator '+', time "05:00")
  //   * times: HH[:MM[:SS]] or HH[MM[SS]] — colon use must be
  //     consistent ("12:3045" is invalid); an optional fraction
  //     '.'/',' + >=1 digits lands in MICROSECONDS of the timestamp
  //     whatever the last component was ("12.5" -> 12:00:00.500000),
  //     truncated past 6 digits
  //   * offsets: 'Z' (upper-case only in 3.11) or sign + the same
  //     time grammar, incl. seconds and sub-second offsets
  //     ("+05:30:15.5"); aware values normalize to UTC wall-clock
  //     (the engine runs with session tz UTC)
  private val extDate   = """(\d{4})-(\d{2})-(\d{2})""".r
  private val basicDate = """(\d{4})(\d{2})(\d{2})""".r
  private val extWeek   = """(\d{4})-W(\d{2})(?:-(\d))?""".r
  private val basicWeek = """(\d{4})W(\d{2})(\d)?""".r
  private val timeRe    = """(\d{2})(?:(?::(\d{2})(?::(\d{2}))?)|(?:(\d{2})(\d{2})?))?(?:[.,](\d+))?""".r

  /** ISO weeks in ISO year `y`: 53 iff Jan 1 is Thursday, or Jan 1 of a
    * leap year is Wednesday. */
  private def isoWeeksInYear(y: Int): Int = {
    val jan1 = LocalDate.of(y, 1, 1)
    val dow = jan1.getDayOfWeek.getValue // Mon=1..Sun=7
    if (dow == 4 || (jan1.isLeapYear && dow == 3)) 53 else 52
  }

  /** ISO week date -> LocalDate (week 1 contains Jan 4; day Mon=1). */
  private def fromIsoWeek(y: Int, w: Int, d: Int): Option[LocalDate] =
    if (y < 1 || y > 9999 || w < 1 || w > isoWeeksInYear(y) || d < 1 || d > 7) None
    else {
      val jan4 = LocalDate.of(y, 1, 4)
      val week1Mon = jan4.minusDays(jan4.getDayOfWeek.getValue - 1L)
      Some(week1Mon.plusDays((w - 1) * 7L + (d - 1L)))
    }

  private def mkDate(ys: String, ms: String, ds: String): Option[LocalDate] = {
    val y = ys.toInt
    if (y < 1 || y > 9999) None
    else try Some(LocalDate.of(y, ms.toInt, ds.toInt))
    catch { case _: java.time.DateTimeException => None }
  }

  /** Fraction digits -> microseconds (truncate past 6, pad under 6). */
  private def fracMicros(f: String): Int =
    f.take(6).padTo(6, '0').toInt

  private def mkTime(hh: String, cm: String, cs: String, bm: String, bs: String,
      frac: String): Option[(LocalTime, Int)] = {
    val m = if (cm != null) cm else if (bm != null) bm else "00"
    val sec = if (cs != null) cs else if (bs != null) bs else "00"
    try {
      val t = LocalTime.of(hh.toInt, m.toInt, sec.toInt)
      Some((t, if (frac != null) fracMicros(frac) else 0))
    } catch { case _: java.time.DateTimeException => None }
  }

  /** Longest-match date prefix: (consumed length, date), trying
    * extended 10, week-ext 10/8, basic 8, week-basic 8/7 in order so
    * "2024-01-01..." never half-matches. A prefix is only usable when
    * the rest of the string is empty or holds a separator PLUS at
    * least one time char (exactly one trailing char is the
    * empty-time error, like CPython). Each candidate is evaluated
    * once — this sits on the per-row cast hot path. */
  private def datePrefix(s: String): Option[(Int, LocalDate)] = {
    val n = s.length
    def sepOk(len: Int): Boolean = n == len || n > len + 1
    if (n >= 10 && sepOk(10)) {
      val d = s.substring(0, 10) match {
        case extDate(y, m, dd) => mkDate(y, m, dd)
        case extWeek(y, w, dd) if dd != null => fromIsoWeek(y.toInt, w.toInt, dd.toInt)
        case _ => None
      }
      if (d.isDefined) return d.map((10, _))
    }
    if (n >= 8 && sepOk(8)) {
      val d = s.substring(0, 8) match {
        case extWeek(y, w, dd) if dd == null => fromIsoWeek(y.toInt, w.toInt, 1)
        case basicDate(y, m, dd) => mkDate(y, m, dd)
        case basicWeek(y, w, dd) if dd != null => fromIsoWeek(y.toInt, w.toInt, dd.toInt)
        case _ => None
      }
      if (d.isDefined) return d.map((8, _))
    }
    if (n >= 7 && sepOk(7)) {
      val d = s.substring(0, 7) match {
        case basicWeek(y, w, dd) if dd == null => fromIsoWeek(y.toInt, w.toInt, 1)
        case _ => None
      }
      if (d.isDefined) return d.map((7, _))
    }
    None
  }

  private[graft] def parseIsoDateTime(s: String): Option[LocalDateTime] =
    datePrefix(s).flatMap { case (len, date) =>
      if (s.length == len) Some(LocalDateTime.of(date, LocalTime.MIDNIGHT))
      else parseIsoTime(s.substring(len + 1)).map { case (time, micros, offMicros) =>
        LocalDateTime.of(date, time)
          .plusNanos(micros * 1000L)
          .minusNanos(offMicros * 1000L) // aware -> UTC wall-clock
      }
    }

  /** time [+ offset] -> (LocalTime, fraction micros, offset micros).
    * Offset micros are SIGNED total offset to subtract for UTC. */
  private def parseIsoTime(ts: String): Option[(LocalTime, Int, Long)] = {
    val (timePart, offPart): (String, Option[(Int, String)]) = {
      val zi = ts.indexOf('Z')
      if (zi >= 0 && zi == ts.length - 1) (ts.substring(0, zi), Some((1, "00")))
      else {
        val pi = math.max(ts.indexOf('+'), ts.indexOf('-'))
        if (pi < 0) (ts, None)
        else (ts.substring(0, pi), Some((if (ts.charAt(pi) == '-') -1 else 1, ts.substring(pi + 1))))
      }
    }
    timePart match {
      case timeRe(hh, cm, cs, bm, bs, frac) =>
        mkTime(hh, cm, cs, bm, bs, frac).flatMap { case (t, micros) =>
          offPart match {
            case None => Some((t, micros, 0L))
            case Some((sign, "00")) if sign == 1 && timePart.length == ts.length - 1 =>
              Some((t, micros, 0L)) // 'Z'
            case Some((sign, o)) => o match {
              case timeRe(oh, ocm, ocs, obm, obs, ofrac) =>
                mkTime(oh, ocm, ocs, obm, obs, ofrac).map { case (ot, omicros) =>
                  val totalMicros = sign * (ot.toSecondOfDay * 1000000L + omicros)
                  (t, micros, totalMicros)
                }
              case _ => None
            }
          }
        }
      case _ => None
    }
  }

  /** datetime at exactly midnight -> date32, else date64
    * (schema.py:352-356). */
  def inferDateTime(dt: LocalDateTime): AType =
    if (dt.toLocalTime == LocalTime.MIDNIGHT) ADate32 else ADate64

  /** Scalar (post string-cast) -> lattice type, mirroring
    * infer_type's non-string branches (schema.py:343-389). */
  def inferScalar(v: Scalar, nowEpochSec: Double): AType = v match {
    case SString(_) => AString
    case SBool(_)   => ABool
    case SDateTime(dt) => inferDateTime(dt)
    case SLong(i) =>
      if (i.isValidDouble && isTimestamp(i.toDouble, nowEpochSec)) ATimestampS
      else if (i.isValidInt) AInt32
      else if (i.isValidLong) AInt64
      else AString // too big to be int (schema.py:369-371)
    case SDouble(d) =>
      if (isTimestamp(d, nowEpochSec)) ATimestampS
      else if (d.isNaN || d.isInfinite || math.abs(d) <= Float.MaxValue.toDouble) AFloat32
      else AFloat64
  }

  /** JSON value (MongoDB extended-JSON document field) -> lattice type.
    * Mirrors infer_type (schema.py:331-389) with the extended-JSON scalar
    * wrappers the dump format uses standing in for BSON runtime types:
    *   {"$oid": ...}        -> string   (ObjectId, schema.py:343-344)
    *   {"$numberLong": ...} -> int64    (bson.Int64, schema.py:346-347)
    *   {"$date": ...}       -> date32/date64 per midnight (schema.py:352-356)
    *   {"$binary": ...}     -> binary   (bytes, schema.py:386-387)
    * Nested arrays/objects are [EXT]: the reference rejects them
    * (schema.py:332-335); this engine infers ArrayType/StructType
    * (SURVEY.md §7.4.4). Set `nestedAsError=true` for bug-compat mode.
    */
  def inferJson(node: JsonNode, nowEpochSec: Double, nestedAsError: Boolean = false): AType = {
    node.getNodeType match {
      case JsonNodeType.STRING  => inferScalar(castFromString(node.asText), nowEpochSec)
      case JsonNodeType.BOOLEAN => ABool
      case JsonNodeType.NUMBER =>
        val s = if (node.isIntegralNumber) SLong(BigInt(node.bigIntegerValue()))
                else SDouble(node.doubleValue())
        inferScalar(s, nowEpochSec)
      case JsonNodeType.BINARY  => ABinary
      case JsonNodeType.OBJECT =>
        bsonWrapper(node) match {
          case Some(t) => t
          case None =>
            if (nestedAsError)
              throw new UnsupportedOperationException(
                "Inferring types for list or dict fields is not implemented")
            val it = node.properties().iterator()
            val b = Vector.newBuilder[(String, AType)]
            while (it.hasNext) { val e = it.next(); b += e.getKey -> inferJson(e.getValue, nowEpochSec) }
            AStruct(b.result())
        }
      case JsonNodeType.ARRAY =>
        if (nestedAsError)
          throw new UnsupportedOperationException(
            "Inferring types for list or dict fields is not implemented")
        var elem: Option[AType] = None
        val it = node.elements()
        while (it.hasNext) {
          val t = inferJson(it.next(), nowEpochSec)
          elem = Some(elem.fold(t)(AType.unify(_, t)))
        }
        AList(elem.getOrElse(AString))
      case _ => AString // NULL / MISSING / POJO fall to lattice top
    }
  }

  /** Recognize MongoDB extended-JSON scalar wrappers. */
  private def bsonWrapper(node: JsonNode): Option[AType] = {
    if (node.size() != 1 && !(node.size() == 2 && node.has("$binary"))) None
    else if (node.has("$oid")) Some(AString)
    else if (node.has("$numberLong")) Some(AInt64)
    else if (node.has("$numberInt")) Some(AInt32)
    else if (node.has("$numberDouble")) Some(AFloat64)
    else if (node.has("$binary")) Some(ABinary)
    else if (node.has("$date")) {
      val d = node.get("$date")
      val dt: Option[LocalDateTime] =
        if (d.isNumber) Some(LocalDateTime.ofInstant(Instant.ofEpochMilli(d.asLong), ZoneOffset.UTC))
        else if (d.isTextual) parseIsoDateTime(d.asText)
        else if (d.isObject && d.has("$numberLong"))
          Some(LocalDateTime.ofInstant(Instant.ofEpochMilli(d.get("$numberLong").asText.toLong), ZoneOffset.UTC))
        else None
      dt.map(inferDateTime).orElse(Some(ADate64))
    }
    else None
  }
}
