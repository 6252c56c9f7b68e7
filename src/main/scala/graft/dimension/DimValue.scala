package graft.dimension

import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.time.{LocalDate, LocalDateTime}
import scala.util.Try

/** Partition-dimension type system: STRING / DATETIME / LONG.
  *
  * Semantics re-expressed from the reference's dimension calculus
  * (reference: src/intelliflow/core/signal_processing/dimension_constructs.py,
  * definitions/dimension_defs.py:12-18). These values are driver-side partition
  * literals — they exist *before* any Spark plan and feed partition pruning /
  * path materialization, so they are plain Scala, not Catalyst expressions.
  */
sealed trait DimType
object DimType {
  case object STRING extends DimType
  case object DATETIME extends DimType
  case object LONG extends DimType
}

/** Datetime stepping granularity (reference: dimension_defs.py:50-60). */
sealed abstract class Granularity(val unit: ChronoUnit)
object Granularity {
  case object MINUTE extends Granularity(ChronoUnit.MINUTES)
  case object HOUR extends Granularity(ChronoUnit.HOURS)
  case object DAY extends Granularity(ChronoUnit.DAYS)
  case object WEEK extends Granularity(ChronoUnit.WEEKS)
  case object MONTH extends Granularity(ChronoUnit.MONTHS)
  case object YEAR extends Granularity(ChronoUnit.YEARS)
}

/** A declared (un-instantiated) dimension: name + type.
  * Reference: dimension_constructs.py:38-148. */
final case class Dim(name: Option[String], dtype: Option[DimType],
                     params: Map[String, Any] = Map.empty) {
  /** Types are enforced only when both sides declare one. */
  def typeCompatible(other: Dim): Boolean =
    dtype.isEmpty || other.dtype.isEmpty || dtype == other.dtype
}

/** Instantiated dimension value ("variant"). Polymorphic `applyTo` drives
  * filter chaining/intersection; `plus`/`minus` drive range expansion.
  * Reference: dimension_constructs.py:507-662. */
sealed trait DimValue {
  def name: Option[String]
  def dtype: Option[DimType]
  def params: Map[String, Any]

  /** Canonical (formatted) value used in paths and link equality. */
  def value: Any

  /** Underlying raw value (e.g. LocalDateTime for dates). */
  def rawValue: Any = value

  /** Concrete values are material; `*` and `_:-N` are not. */
  def isMaterial: Boolean = true

  def withAttrs(name: Option[String], dtype: Option[DimType],
                params: Map[String, Any]): DimValue

  /** Step by `n` units (granularity-aware for dates, alphanumeric for
    * strings, arithmetic for longs). */
  def plus(n: Int): DimValue
  def minus(n: Int): DimValue = plus(-n)

  /** Value equality as the reference defines it (case-insensitivity,
    * date-format awareness), ignoring attached params. */
  def matchesValue(other: DimValue): Boolean = value == other.value

  def typeCompatible(other: DimValue): Boolean =
    dtype.isEmpty || other.dtype.isEmpty || dtype.get == other.dtype.get

  /** One-directional apply (self=LHS pattern, other=RHS value); None means
    * "no opinion, ask the other side". Reference `_apply`. */
  protected[dimension] def applyOneWay(other: DimValue, finalize: Boolean): Option[List[DimValue]] =
    if (typeCompatible(other) && (matchesValue(other) || other.matchesValue(this)))
      Some(List(this)) else None

  /** Full N-N polymorphic apply used by filter chaining: try self→other then
    * other→self, then let survivors inherit LHS name/type/params.
    * Reference: dimension_constructs.py:587-627. */
  final def applyTo(other: DimValue, finalize: Boolean): Option[List[DimValue]] = {
    val res = applyOneWay(other, finalize).orElse(other.applyOneWay(this, finalize))
    res.map(_.map { r =>
      val n = r.name.orElse(this.name)
      val t = r.dtype.orElse(this.dtype)
      val p =
        if (r.params.isEmpty) this.params
        else if (this.params.isEmpty || (r.params eq this.params)) r.params
        else r.params ++ this.params
      // a survivor whose attributes already are the merged ones IS its own
      // copy (values are immutable case classes); skipping the copy skips
      // re-formatting every date an event or a range carries
      if (n == r.name && t == r.dtype && p == r.params) r else r.withAttrs(n, t, p)
    })
  }

  /** Range-shift transform (`_:-N:shift` → applied at materialization).
    * Reference: dimension_constructs.py:550-578. */
  def transform(): DimValue =
    if (!isMaterial) this
    else params.get(DimValue.RangeShiftKey) match {
      case Some(shift: Int) if shift != 0 =>
        val stepped = if (shift >= 0) plus(shift) else minus(-shift)
        stepped.withAttrs(stepped.name, stepped.dtype, stepped.params - DimValue.RangeShiftKey)
      case _ => this
    }
}

object DimValue {
  val RangeShiftKey = "_range_shift"

  /** Strftime → java.time pattern translation for the directives the
    * reference's dimension formats use. */
  private val strftimeMap = List(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%M" -> "mm", "%S" -> "ss", "%j" -> "DDD")

  /** Every non-directive character is literal, so each run of them is
    * emitted as ONE quoted section (a quote inside doubled): java.time
    * reads letters as fields, `[ ] { } #` as syntax, and two adjacent
    * single-character quotes ('d''t') as an escaped quote. */
  def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flushLiteral(): Unit = if (lit.nonEmpty) {
      sb.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val d = fmt.substring(i, i + 2)
        strftimeMap.find(_._1 == d) match {
          case Some((_, j)) => flushLiteral(); sb.append(j)
          case None => lit.append(fmt.charAt(i + 1)) // %% and unknown: literal
        }
        i += 2
      } else {
        lit.append(fmt.charAt(i))
        i += 1
      }
    }
    flushLiteral()
    sb.toString
  }

  /** One compiled formatter per strftime string, shared process-wide:
    * DateTimeFormatter is immutable and thread-safe, and the keys are the
    * formats dimension specs declare, so the map stays small. Compiling
    * on every DateValue construction, copy and match would dominate the
    * router's per-event cost.
    * A format java.time rejects throws from here on every call —
    * computeIfAbsent caches nothing when the mapping throws. */
  private val formatters =
    new java.util.concurrent.ConcurrentHashMap[String, DateTimeFormatter]()

  def formatterFor(fmt: String): DateTimeFormatter = {
    val f = formatters.get(fmt)
    if (f != null) f
    else formatters.computeIfAbsent(fmt, f => DateTimeFormatter.ofPattern(strftimeToJava(f)))
  }

  /** The parse side of a declared format: `lenient` defaults the
    * time-of-day fields to 0, so partial formats (e.g. "%Y-%m-%d %H")
    * keep the fields they DO declare instead of being degraded to a
    * date-only parse that drops the hour; `strict` is the plain pattern,
    * for date-only values. Cached like [[formatterFor]]. */
  private final class ParseFormats(val lenient: DateTimeFormatter,
                                   val strict: DateTimeFormatter)
  private val parseFormats =
    new java.util.concurrent.ConcurrentHashMap[String, ParseFormats]()

  private def parseFormatsFor(fmt: String): ParseFormats =
    parseFormats.computeIfAbsent(fmt, f => new ParseFormats(
      new java.time.format.DateTimeFormatterBuilder()
        .appendPattern(strftimeToJava(f))
        .parseDefaulting(java.time.temporal.ChronoField.HOUR_OF_DAY, 0)
        .parseDefaulting(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0)
        .parseDefaulting(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0)
        .toFormatter,
      formatterFor(f)))

  /** Unambiguous common forms for untyped values (the reference's
    * separators + the breadth of dateutil's defaults that stays
    * order-unambiguous: ISO variants with sub-second/minute precision,
    * month-name forms, compact digits), in trial order. */
  private val commonFormats: List[DateTimeFormatter] = List(
    "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm", "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd-HH", "yyyy-MM-dd_HH", "yyyy-MM-dd@HH", "yyyy-MM-dd/HH",
    "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd", "yyyy.MM.dd", "yyyy-MM-dd",
    "yyyyMMddHHmm", "yyyyMMddHH", "yyyyMMdd",
    "MMM d yyyy", "d MMM yyyy", "MMMM d, yyyy", "MMMM d yyyy",
    "d MMMM yyyy", "MMM d, yyyy")
    .map(DateTimeFormatter.ofPattern(_, java.util.Locale.ENGLISH))

  /** Pragmatic stand-in for the reference's fuzzy datetime parsing
    * (dimension_constructs.py:1523-1568): ISO-ish forms with the reference's
    * supported separators, plus compact %Y%m%d[%H]. Returns None if the
    * string is not datetime-like. */
  def parseDateTime(s: String, format: Option[String]): Option[LocalDateTime] = {
    val t = s.trim
    def viaFormat: Option[LocalDateTime] = format.flatMap { f =>
      Try(parseFormatsFor(f)).toOption.flatMap { pf =>
        Try(LocalDateTime.parse(t, pf.lenient)).toOption
          .orElse(Try(LocalDate.parse(t, pf.strict).atStartOfDay()).toOption)
      }.orElse( // hour-only / partial formats, e.g. "%H" with value "23"
        if (f == "%H") Try(LocalDateTime.of(1900, 1, 1, t.toInt, 0)).toOption
        else if (f == "%m") Try(LocalDateTime.of(1900, t.toInt, 1, 0, 0)).toOption
        else if (f == "%d") Try(LocalDateTime.of(1900, 1, t.toInt, 0, 0)).toOption
        else None)
    }
    def viaCommon: Option[LocalDateTime] =
      commonFormats.view.flatMap { fmt =>
        Try(LocalDateTime.parse(t, fmt)).toOption
          .orElse(Try(LocalDate.parse(t, fmt).atStartOfDay()).toOption)
      }.headOption
    // a declared format is authoritative: "%Y-%d-%m" on "2024-05-03" must
    // parse as Mar 5, not the generic ISO reading (May 3)
    viaFormat.orElse(viaCommon)
  }

  /** Variant factory: resolve a raw user/event value to a typed DimValue.
    * Mirrors the resolver scoring of dimension_constructs.py:782-918 —
    * "*" → Any, "_[:R[:S]]" → Relative, datetime-like → Date,
    * integral → Long, else String; an explicit `dtype` wins. */
  def resolve(raw: Any, dim: Dim = Dim(None, None)): DimValue = {
    val params = dim.params
    raw match {
      case v: DimValue => v
      case AnyVal_.Char => AnyVal_(dim.name, dim.dtype, params)
      case s: String if s == AnyVal_.Char => AnyVal_(dim.name, dim.dtype, params)
      case s: String if RelativeValue.parse(s).isDefined =>
        val (idx, shift) = RelativeValue.parse(s).get
        RelativeValue(idx, shift, dim.name, dim.dtype, params)
      case d: LocalDateTime => DateValue(d, dim.name, params)
      case d: LocalDate => DateValue(d.atStartOfDay(), dim.name, params)
      case _ =>
        val s = raw.toString
        dim.dtype match {
          case Some(DimType.STRING) => StringValue(s, dim.name, params)
          case Some(DimType.LONG) => LongValue(s.trim.toLong, dim.name, params)
          case Some(DimType.DATETIME) =>
            DateValue(parseDateTime(s, params.get("format").map(_.toString))
              .getOrElse(throw new IllegalArgumentException(
                s"DateValue cannot be created from '$s' without a parseable format")),
              dim.name, params)
          case None =>
            // untyped: numbers → Long; datetime-like strings (len>=6,
            // reference heuristic) → Date; numeric strings → Long; else
            // String. parseDateTime runs ONCE — it sweeps ~24 candidate
            // patterns and resolve sits on the event-ingestion hot path.
            if (raw.isInstanceOf[Number]) LongValue(s.trim.toLong, dim.name, params)
            else {
              val dt =
                if (s.length >= 6 && !s.forall(_.isDigit)) parseDateTime(s, None)
                else None
              dt match {
                case Some(d) => DateValue(d, dim.name, params)
                case None =>
                  if (Try(s.trim.toLong).isSuccess)
                    LongValue(s.trim.toLong, dim.name, params)
                  else StringValue(s, dim.name, params)
              }
            }
        }
    }
  }
}

/** STRING variant: optional case-insensitivity + lower/upper formatter and
  * alphanumeric ±1 used for string range expansion.
  * Reference: dimension_constructs.py:1204-1491. */
final case class StringValue(raw: String, name: Option[String] = None,
                             params: Map[String, Any] = Map.empty) extends DimValue {
  val dtype: Option[DimType] = Some(DimType.STRING)
  private val insensitive: Boolean =
    params.get("insensitive").exists(_ == true)
  private val formatter: String => String = params.get("format") match {
    case Some("lower") => _.toLowerCase
    case Some("upper") => _.toUpperCase
    case Some(f: Function1[_, _]) => f.asInstanceOf[String => String]
    case _ => identity
  }
  override val value: String = formatter(raw)
  override def rawValue: Any = raw

  def withAttrs(n: Option[String], t: Option[DimType], p: Map[String, Any]): DimValue =
    copy(name = n, params = p)

  override def matchesValue(other: DimValue): Boolean = other match {
    case s: StringValue =>
      value == s.value || ((insensitive || !s.caseSensitive) && value.equalsIgnoreCase(s.value))
    case _ => value == other.value.toString && typeCompatible(other)
  }
  def caseSensitive: Boolean = !insensitive

  /** Alphanumeric string increment: '9'→'0' carry, 'Z'→'A' carry, 'z'→'a'
    * carry; overflow prepends '1'/'A'/'a' by the class of the overflowing
    * char. Reference: dimension_constructs.py:1305-1360. */
  def plus(n: Int): DimValue = {
    require(n >= 0, s"use minus for negative steps on StringValue($raw)")
    require(raw.forall(_.isLetterOrDigit), s"'$raw' is not alphanumeric")
    var s = raw
    (0 until n).foreach(_ => s = StringValue.inc(s))
    copy(raw = s)
  }
  override def minus(n: Int): DimValue = {
    require(n >= 0, s"use plus for negative steps on StringValue($raw)")
    require(raw.forall(_.isLetterOrDigit), s"'$raw' is not alphanumeric")
    var s = raw
    (0 until n).foreach(_ => s = StringValue.dec(s))
    copy(raw = s)
  }
  def concat(suffix: String): StringValue = copy(raw = raw + suffix)
}

object StringValue {
  private def incChar(c: Char): (Char, Boolean) = c match {
    case '9' => ('0', true)
    case 'Z' => ('A', true)
    case 'z' => ('a', true)
    case _ => ((c + 1).toChar, false)
  }
  private[dimension] def inc(s: String): String = {
    val (nc, overflow) = incChar(s.last)
    val head = s.dropRight(1)
    if (!overflow) head + nc
    else if (head.nonEmpty) inc(head) + nc
    else {
      val prefix = if (s.last.isDigit) "1" else if (s.last.isUpper) "A" else "a"
      prefix + nc
    }
  }
  private def decChar(c: Char): (Char, Boolean) = c match {
    case '0' => ('9', true)
    case 'A' => ('Z', true)
    case 'a' => ('z', true)
    case _ => ((c - 1).toChar, false)
  }
  /** Length-preserving decrement ('100' - 1 = '099'); underflow throws. */
  private[dimension] def dec(s: String): String = {
    val (pc, underflow) = decChar(s.last)
    val head = s.dropRight(1)
    if (!underflow) head + pc
    else if (head.nonEmpty) dec(head) + pc
    else throw new ArithmeticException(s"underflow decrementing alphanumeric string")
  }
}

/** DATETIME variant: strftime format, granularity-stepped ±, optional min
  * clamp, optional `timezone`. Values are naive local datetimes (no
  * embedded tz in the string form, matching the reference's restriction —
  * dimension_constructs.py:1681-1692); the declared `timezone` param fixes
  * which instant a local value denotes, so cross-timezone equality,
  * conversion ([[atTimezone]]) and zone-aware stepping work. The reference
  * declares the param (dimension_constructs.py:1496,1586-1592) but leaves
  * applying it as a TODO (:1707-1719); here it is applied.
  * Reference: dimension_constructs.py:1494-1851. */
final case class DateValue(date: LocalDateTime, name: Option[String] = None,
                           params: Map[String, Any] = Map.empty) extends DimValue {
  val dtype: Option[DimType] = Some(DimType.DATETIME)
  val format: Option[String] = params.get("format").map(_.toString)
  val timezone: Option[java.time.ZoneId] = params.get("timezone").map(DateValue.zoneOf)
  val granularity: Granularity = params.get("granularity") match {
    case Some(g: Granularity) => g
    case Some(s: String) => s.toUpperCase match {
      case "MINUTE" => Granularity.MINUTE
      case "HOUR" => Granularity.HOUR
      case "DAY" => Granularity.DAY
      case "WEEK" => Granularity.WEEK
      case "MONTH" => Granularity.MONTH
      case "YEAR" => Granularity.YEAR
      case other => throw new IllegalArgumentException(
        // a silent DAY fallback turned a typo ('HOURS') into day-sized
        // stepping over hourly partitions — wrong paths, no signal
        s"unknown granularity '$other' — use MINUTE|HOUR|DAY|WEEK|MONTH|YEAR")
    }
    case _ => Granularity.DAY
  }
  params.get("min").foreach {
    case m: LocalDateTime => require(!date.isBefore(m), s"$date earlier than min $m")
    case m: LocalDate => require(!date.isBefore(m.atStartOfDay()), s"$date earlier than min $m")
    case m: String =>
      DimValue.parseDateTime(m, format).foreach(md =>
        require(!date.isBefore(md), s"$date earlier than min $md"))
    case _ =>
  }

  // the formatter is looked up eagerly, so a format java.time rejects
  // fails here; the text is rendered on first use — many values (a range
  // expanded for a zombie check, a re-resolved tip) never print
  format.foreach(DimValue.formatterFor)
  override lazy val value: String =
    format.map(f => date.format(DimValue.formatterFor(f))).getOrElse(date.toString)
  override def rawValue: Any = date

  def withAttrs(n: Option[String], t: Option[DimType], p: Map[String, Any]): DimValue =
    copy(name = n, params = p)

  /** The instant this local partition value denotes (UTC when no tz
    * declared). */
  def instant: java.time.Instant =
    date.atZone(timezone.getOrElse(java.time.ZoneOffset.UTC)).toInstant

  /** The same instant re-expressed as a local value in `tz` — day/hour
    * boundaries shift: (2026-08-12 03:00 UTC).atTimezone("PST") is
    * 2026-08-11 19:00. */
  def atTimezone(tz: Any): DateValue = {
    val z = DateValue.zoneOf(tz)
    copy(date = instant.atZone(z).toLocalDateTime,
      params = params + ("timezone" -> z))
  }

  override def matchesValue(other: DimValue): Boolean = other match {
    case d: DateValue =>
      // when BOTH sides declare a timezone, equality IS instant equality —
      // (2026-08-11 19:00 PST) == (2026-08-12 03:00 UTC), and crucially
      // (19:00 PST) != (19:00 UTC) despite equal wall-clock text, so the
      // naive comparisons must NOT be consulted as a fallback
      if (timezone.isDefined && d.timezone.isDefined) instant == d.instant
      else date == d.date || value == d.value ||
        // d's date in OUR format; under the same format that is d.value
        format.exists(f => (d.format.isEmpty || d.format.get != f) &&
          value == d.date.format(DimValue.formatterFor(f)))
    case _ => false
  }

  /** Zone-aware stepping when a timezone is declared (DST-correct for IANA
    * region zones; identical to naive stepping for fixed offsets). */
  def plus(n: Int): DimValue = timezone match {
    case Some(z) =>
      copy(date = date.atZone(z).plus(n.toLong, granularity.unit).toLocalDateTime)
    case None => copy(date = date.plus(n.toLong, granularity.unit))
  }
}

object DateValue {
  /** Timezone resolution: the reference's named fixed offsets
    * (definitions/dimension_defs.py:20-38 — UTC/GMT=0, PST=-8, EST=-5),
    * else any IANA/offset id accepted by ZoneId. */
  def zoneOf(tz: Any): java.time.ZoneId = tz match {
    case z: java.time.ZoneId => z
    case s => s.toString.toUpperCase match {
      case "UTC" | "GMT" => java.time.ZoneOffset.UTC
      case "PST" => java.time.ZoneOffset.ofHours(-8)
      case "EST" => java.time.ZoneOffset.ofHours(-5)
      case _ => java.time.ZoneId.of(s.toString)
    }
  }

  /** DimensionLink mapper: convert a datetime dimension value into `tz`
    * (non-datetime values pass through untouched). */
  def toTimezone(tz: Any): DimValue => DimValue = {
    case d: DateValue => d.atTimezone(tz)
    case v => v
  }
}

/** LONG variant with zero-padding `digits` param.
  * Reference: dimension_constructs.py:1853-1998. */
final case class LongValue(v: Long, name: Option[String] = None,
                           params: Map[String, Any] = Map.empty) extends DimValue {
  val dtype: Option[DimType] = Some(DimType.LONG)
  private val digits: Option[Int] = params.get("digits").map(_.toString.toInt)
  override val value: Any =
    digits.map(d => s"%0${d}d".format(v)).getOrElse(v)
  override def rawValue: Any = v

  def withAttrs(n: Option[String], t: Option[DimType], p: Map[String, Any]): DimValue =
    copy(name = n, params = p)

  override def matchesValue(other: DimValue): Boolean = other match {
    case l: LongValue => v == l.v
    case _ => value.toString == other.value.toString && typeCompatible(other)
  }

  def plus(n: Int): DimValue = copy(v = v + n)
}

/** `*` all-pass wildcard: matches anything of its (optional) type; applying
  * a concrete value to it yields that value.
  * Reference: dimension_constructs.py:921-976. */
final case class AnyVal_(name: Option[String] = None, dtype: Option[DimType] = None,
                         params: Map[String, Any] = Map.empty) extends DimValue {
  override val value: String = AnyVal_.Char
  override def isMaterial: Boolean = false

  def withAttrs(n: Option[String], t: Option[DimType], p: Map[String, Any]): DimValue =
    copy(name = n, dtype = t, params = p)

  override protected[dimension] def applyOneWay(other: DimValue, finalize: Boolean): Option[List[DimValue]] =
    if (!typeCompatible(other)) None
    else other match {
      case _: AnyVal_ => Some(List(this))
      case o => Some(List(o)) // concrete value absorbs the wildcard
    }

  def plus(n: Int): DimValue = throw new UnsupportedOperationException("plus on '*'")
}
object AnyVal_ { val Char = "*" }

/** Lazy relative range `_:-N[:shift]`: at runtime `range(datum)` explodes to
  * N concrete values stepping by the datum type's ±1; relative∩relative
  * keeps the narrower range. Reference: dimension_constructs.py:979-1197. */
final case class RelativeValue(relativeIndex: Int, shift: Int = 0,
                               name: Option[String] = None, dtype: Option[DimType] = None,
                               params: Map[String, Any] = Map.empty) extends DimValue {
  override val value: String =
    s"_:$relativeIndex" + (if (shift != 0) s":$shift" else "")
  override def isMaterial: Boolean = false

  def withAttrs(n: Option[String], t: Option[DimType], p: Map[String, Any]): DimValue =
    copy(name = n, dtype = t, params = p)

  /** Narrower-range intersection: both negative → max, both positive → min,
    * mixed signs → 0. Reference: dimension_constructs.py:1067-1108. */
  def intersect(other: RelativeValue): RelativeValue = {
    require(typeCompatible(other), s"type mismatch intersecting $this and $other")
    val idx =
      if (relativeIndex < 0 && other.relativeIndex < 0) math.max(relativeIndex, other.relativeIndex)
      else if (relativeIndex > 0 && other.relativeIndex > 0) math.min(relativeIndex, other.relativeIndex)
      else 0
    copy(relativeIndex = idx)
  }

  /** Explode into |relativeIndex| concrete values anchored at `datum`
    * (inclusive), stepping backward for negative index, forward for
    * positive. Reference: dimension_constructs.py:1116-1142. */
  def range(datum: DimValue): List[DimValue] = {
    val shifted = if (shift == 0) datum
      else datum.withAttrs(datum.name, datum.dtype,
        datum.params + (DimValue.RangeShiftKey -> shift)).transform()
    // `min` is a CLAMP (reference dimension_constructs.py:1494-1851):
    // a step past it TRUNCATES the expansion at the boundary — letting
    // the constructor's min-require void the WHOLE range made an event
    // near the dataset's start match nothing instead of its valid tail
    (0 until math.abs(relativeIndex)).iterator
      .map(i => Try(
        if (relativeIndex >= 0) shifted.plus(i) else shifted.minus(i)))
      .takeWhile(_.isSuccess).map(_.get).toList
  }

  override protected[dimension] def applyOneWay(other: DimValue, finalize: Boolean): Option[List[DimValue]] =
    other match {
      case r: RelativeValue =>
        if (finalize) throw new IllegalStateException(
          s"cannot finalize a RelativeValue against another RelativeValue")
        Some(List(intersect(r)))
      case o if typeCompatible(o) && o.isMaterial =>
        // end of life-cycle: concrete datum arrived → expand the range
        // (an empty expansion — the datum itself below `min` — means
        // the event matches nothing)
        Try(range(o)).toOption.filter(_.nonEmpty)
      case _ => None
    }

  def plus(n: Int): DimValue = throw new UnsupportedOperationException("plus on relative value")
}

object RelativeValue {
  /** Parse "_", "_:R", "_:R:S" → (relativeIndex, shift). */
  def parse(s: String): Option[(Int, Int)] = {
    if (s == "_") Some((-1, 0))
    else {
      val parts = s.split(':')
      if ((parts.length == 2 || parts.length == 3) && parts(0) == "_")
        Try((parts(1).trim.toInt, if (parts.length == 3) parts(2).trim.toInt else 0)).toOption
      else None
    }
  }
}
