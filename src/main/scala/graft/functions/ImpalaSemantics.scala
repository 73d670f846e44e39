package graft.functions

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** Impala expression semantics that differ from Spark's and cannot be
  * expressed as name aliases ([[Aliases]]) — each taken from the
  * reference's own golden `.test` rows.
  */
object ImpalaSemantics {

  /** Impala's valid TIMESTAMP range (`be/src/runtime/timestamp-value.h`:
    * 1400-01-01 .. 9999-12-31 23:59:59.999999999); values outside
    * convert to NULL rather than erroring or wrapping.
    */
  val MinTsMicros: Long = LocalDateTime.of(1400, 1, 1, 0, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
  val MaxTsMicros: Long = LocalDateTime.of(9999, 12, 31, 23, 59, 59)
    .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 999999L

  def tsInRange(micros: Long): Boolean =
    micros >= MinTsMicros && micros <= MaxTsMicros

  /** C `printf("%.<sig>g")` — also C++ `ostream <<` default when
    * sig = 6 — correctly rounded from the binary double: round to `sig`
    * significant digits, strip trailing fraction zeros, scientific form
    * `e±XX` when the exponent is < -4 or >= sig. NaN prints "nan"
    * (cast-functions-ir.cc special-cases -nan), infinities "inf".
    */
  def cFormatG(v: Double, sig: Int): String = {
    if (java.lang.Double.isNaN(v)) return "nan"
    if (java.lang.Double.isInfinite(v)) return if (v > 0) "inf" else "-inf"
    if (v == 0.0d) return if (1 / v < 0) "-0" else "0"
    val bd = new java.math.BigDecimal(v)
      .round(new java.math.MathContext(sig, java.math.RoundingMode.HALF_EVEN))
    val exp = bd.precision - bd.scale - 1
    if (exp < -4 || exp >= sig) {
      val mant = bd.movePointLeft(exp).stripTrailingZeros.toPlainString
      f"${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    } else {
      val s = bd.stripTrailingZeros.toPlainString
      s
    }
  }
}

/** Nullify a TIMESTAMP outside Impala's [1400, 10000) validity range —
  * Impala returns NULL where Spark happily represents year 43571
  * (`timestamp-value.h` IsValidDate).
  */
case class ImpalaTsValid(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val micros = v.asInstanceOf[Long]
    if (ImpalaSemantics.tsInRange(micros)) micros else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if (graft.functions.ImpalaSemantics.tsInRange($c)) {
        ${ev.value} = $c;
      } else {
        ${ev.isNull} = true;
      }""")
  override protected def withNewChildInternal(c: Expression): ImpalaTsValid =
    copy(child = c)
  override def prettyName: String = "impala_ts_valid"
}

/** `CAST(DOUBLE/FLOAT AS STRING)` with Impala's formatting
  * (`cast-functions-ir.cc` CAST_FLOAT_TO_STRING: `%.17g` for double,
  * `%.9g` for float, NaN → "nan") — Spark prints `1.0`/`1.0E7`.
  */
case class ImpalaFloatToString(child: Expression) extends UnaryExpression
    with codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any = {
    val s = child.dataType match {
      case FloatType => ImpalaSemantics.cFormatG(v.asInstanceOf[Float].toDouble, 9)
      case _ => ImpalaSemantics.cFormatG(v.asInstanceOf[Double], 17)
    }
    UTF8String.fromString(s)
  }
  override protected def withNewChildInternal(c: Expression): ImpalaFloatToString =
    copy(child = c)
  override def prettyName: String = "impala_float_to_string"
}

/** Impala `date_add`/`date_sub`/`adddate`/`subdate`/`add_months`:
  * TIMESTAMP-preserving calendar arithmetic
  * (`timestamp-functions-ir.cc` TimestampArithmetic via
  * `impala_functions.py` date_add → DATE_ADD(TIMESTAMP, ...)). Spark's
  * builtins of the same names return DATE, dropping the time-of-day.
  * A DATE first argument stays DATE (Impala's DATE overloads), a
  * TIMESTAMP_NTZ one (the fixtures' timestamps) stays TIMESTAMP_NTZ; a
  * STRING argument implicit-casts to TIMESTAMP, as in Impala. The
  * amount may be an integer (days/months) or an INTERVAL literal.
  * Out-of-range results are NULL (TimestampValue validity).
  */
case class ImpalaDateShift(start: Expression, amount: Expression,
    unit: String, neg: Boolean) extends BinaryExpression
    with codegen.CodegenFallback {
  override def left: Expression = start
  override def right: Expression = amount

  private lazy val dateIn = start.dataType == DateType
  override def dataType: DataType =
    if (dateIn && (unit == "DAY" || unit == "WEEK" || unit == "MONTH" ||
        unit == "YEAR")) DateType
    else if (start.dataType == TimestampNTZType) TimestampNTZType
    else TimestampType
  override def nullable: Boolean = true

  private val MicrosPerDay = 86400000000L

  private def toMicros(v: Any): Option[Long] = start.dataType match {
    case TimestampType | TimestampNTZType => Some(v.asInstanceOf[Long])
    case DateType => Some(v.asInstanceOf[Int].toLong * MicrosPerDay)
    case _: StringType =>
      DateTimeUtils.stringToTimestamp(v.asInstanceOf[UTF8String],
        java.time.ZoneOffset.UTC).map(l => l)
    case _ => None
  }

  private def shift(ldt: LocalDateTime, n: Long): LocalDateTime = unit match {
    case "YEAR" => ldt.plusYears(n)
    case "MONTH" => ldt.plusMonths(n)
    case "WEEK" => ldt.plusWeeks(n)
    case "DAY" => ldt.plusDays(n)
    case "HOUR" => ldt.plusHours(n)
    case "MINUTE" => ldt.plusMinutes(n)
    case "SECOND" => ldt.plusSeconds(n)
    case "MILLISECOND" => ldt.plus(n, ChronoUnit.MILLIS)
    case "MICROSECOND" => ldt.plus(n, ChronoUnit.MICROS)
    case other => throw new IllegalArgumentException(other)
  }

  override protected def nullSafeEval(v: Any, amt: Any): Any = {
    val base = toMicros(v) match {
      case Some(m) => m
      case None => return null
    }
    var ldt = LocalDateTime.ofEpochSecond(Math.floorDiv(base, 1000000L),
      (Math.floorMod(base, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    val s = if (neg) -1L else 1L
    amount.dataType match {
      case CalendarIntervalType =>
        val i = amt.asInstanceOf[CalendarInterval]
        ldt = ldt.plusMonths(s * i.months).plusDays(s * i.days)
          .plus(s * i.microseconds, ChronoUnit.MICROS)
      case _: YearMonthIntervalType =>
        ldt = ldt.plusMonths(s * amt.asInstanceOf[Int])
      case _: DayTimeIntervalType =>
        ldt = ldt.plus(s * amt.asInstanceOf[Long], ChronoUnit.MICROS)
      case _ => amt match {
        case n: Number => ldt = shift(ldt, s * n.longValue)
        case _ => return null
      }
    }
    if (ldt.getYear < 1400 || ldt.getYear > 9999) return null
    val micros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ldt.getNano / 1000L
    if (dataType == DateType)
      Math.floorDiv(micros, MicrosPerDay).toInt
    else micros
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(start = l, amount = r)
  override def prettyName: String = if (neg) "date_sub" else "date_add"
}

/** Impala 2-arg `log(base, x)`: raw C `log(x)/log(base)` — yields
  * ±Infinity/NaN where Spark's null-guarded Logarithm returns NULL
  * (`math-functions-ir.cc` Log).
  */
case class ImpalaLog(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(b: Any, x: Any): Any =
    math.log(x.asInstanceOf[Double]) / math.log(b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, x) =>
      s"java.lang.Math.log($x) / java.lang.Math.log($b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "log"
}

/** Impala `base64decode`: strict RFC-4648 — malformed input (length not
  * a multiple of 4, characters outside the alphabet) returns NULL,
  * where Spark's `unbase64` decodes leniently
  * (`string-functions-ir.cc` Base64Decode).
  */
case class ImpalaBase64Decode(child: Expression) extends UnaryExpression
    with codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.toString
    if (s.length % 4 != 0) return null
    try UTF8String.fromBytes(java.util.Base64.getDecoder.decode(s))
    catch { case _: IllegalArgumentException => null }
  }
  override protected def withNewChildInternal(c: Expression): ImpalaBase64Decode =
    copy(child = c)
  override def prettyName: String = "base64decode"
}

/** Impala 1-or-2-arg `round`/`dround` over floating input: FLOAT
  * promotes to DOUBLE before rounding (`impala_functions.py:351` — the
  * only float overloads are DOUBLE/DECIMAL), so `round(float_col, 3)`
  * is `1.1`, not float-repr `1.100000023841858`. Non-float inputs
  * delegate to Spark's builtin unchanged.
  */
/** Impala's datetime field extractors take TIMESTAMP (or DATE) — never
  * a bare string-as-date: `year('0009-02-15')` implicit-casts through
  * TIMESTAMP whose validity floor is 1400-01-01, so it returns NULL
  * (date.test golden), where Spark coerces the string to DATE and
  * returns 9. DATE/TIMESTAMP inputs pass through untouched.
  */
case class ImpalaTimeFn(child: Expression, fn: String)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    // a RuntimeReplaceable replacement is never visited by implicit
    // type coercion (every cast must be explicit) NOR by
    // ResolveTimeZone — casts that need a zone must carry it, or the
    // replacement stays unresolved and analysis dies with
    // INTERNAL_ERROR "Cannot resolve the runtime replaceable expr"
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val ts =
      if (child.dataType.isInstanceOf[StringType])
        ImpalaTsValid(Cast(child, TimestampType, tz))
      else child
    def asDate =
      if (ts.dataType == DateType) ts else Cast(ts, DateType, tz)
    def asTs =
      if (ts.dataType == TimestampType) ts else Cast(ts, TimestampType, tz)
    fn match {
      case "year" => Year(asDate)
      case "month" => Month(asDate)
      case "day" => DayOfMonth(asDate)
      // the time-of-day extractors are TimeZoneAwareExpressions — the
      // zone must be supplied here for the same reason as the casts
      case "hour" => Hour(asTs, tz)
      case "minute" => Minute(asTs, tz)
      case "second" => Second(asTs, tz)
      case "quarter" => Quarter(asDate)
      case "weekofyear" => WeekOfYear(asDate)
      case "dayofyear" => DayOfYear(asDate)
      case other => throw new IllegalArgumentException(other)
    }
  }
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = fn
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

case class ImpalaRound(child: Expression, scale: Expression)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case FloatType => Round(Cast(child, DoubleType), scale)
    case _ => Round(child, scale)
  }
  override def children: Seq[Expression] = Seq(child, scale)
  override def prettyName: String = "round"
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(child = c(0), scale = c(1))
}

/** `regexp_like(str, pattern[, options])` — Impala's 3-arg form
  * (`string-functions-ir.cc` RegexpLike; options per re2):
  * `i` case-insensitive, `m` multi-line `^`/`$`, `n` dot-matches-
  * newline. Partial (contains) match, like re2 PartialMatch.
  */
case class ImpalaRegexpLike(str: Expression, pattern: Expression,
    opts: Expression) extends TernaryExpression
    with codegen.CodegenFallback {
  override def dataType: DataType = BooleanType
  override def first: Expression = str
  override def second: Expression = pattern
  override def third: Expression = opts

  @transient private[this] var cachedKey: (String, String) = _
  @transient private[this] var cachedPattern: java.util.regex.Pattern = _

  override protected def nullSafeEval(s: Any, p: Any, o: Any): Any = {
    val ps = p.toString
    val os = o.toString
    if (cachedPattern == null || cachedKey != ((ps, os))) {
      var flags = 0
      os.foreach {
        case 'i' => flags |= java.util.regex.Pattern.CASE_INSENSITIVE |
          java.util.regex.Pattern.UNICODE_CASE
        case 'c' => flags &= ~(java.util.regex.Pattern.CASE_INSENSITIVE |
          java.util.regex.Pattern.UNICODE_CASE) // case-sensitive (default)
        case 'm' => flags |= java.util.regex.Pattern.MULTILINE
        case 'n' => flags |= java.util.regex.Pattern.DOTALL
        case c => throw new IllegalArgumentException(
          s"Illegal match parameter $c")
      }
      cachedPattern = java.util.regex.Pattern.compile(ps, flags)
      cachedKey = (ps, os)
    }
    cachedPattern.matcher(s.toString).find()
  }

  override def prettyName: String = "regexp_like"
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Impala's `/` on FLOAT/DOUBLE is raw C++ division — x/0 is ±inf,
  * 0/0 is nan (`be/src/exprs/operators-ir.cc` BINARY_OP_FN for
  * fdiv; no zero guard, unlike `%` which returns NULL). Spark's
  * Divide nulls (legacy/try) or raises (ansi) on a zero divisor, so
  * the dialect swaps in this expression for double-typed division.
  */
case class ImpalaDoubleDiv(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(l: Any, r: Any): Any =
    l.asInstanceOf[Double] / r.asInstanceOf[Double]
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"($l / $r)")
  override def prettyName: String = "divide"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(l, r)
}

/** Translate RE2 POSIX bracket classes (`[[:alpha:]]` …) to Java's
  * `\p{...}` — Impala's regexp functions run on RE2, which supports
  * them; `java.util.regex` does not (`string-functions.cc` re2
  * options). Applied to the pattern argument of the regexp functions
  * at evaluation time (patterns are often column-valued in the
  * goldens, so a parse-time literal rewrite is not enough).
  */
case class ImpalaPosixPattern(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      ImpalaPosixPattern.translateChecked(v.toString, child.foldable))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        "graft.functions.ImpalaPosixPattern.translateChecked(" +
        s"$c.toString(), ${child.foldable}))")
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "impala_posix_pattern"
}

object ImpalaPosixPattern {
  private val classes = Map(
    "alpha" -> "\\p{Alpha}", "digit" -> "\\p{Digit}",
    "alnum" -> "\\p{Alnum}", "upper" -> "\\p{Upper}",
    "lower" -> "\\p{Lower}", "space" -> "\\p{Space}",
    "punct" -> "\\p{Punct}", "xdigit" -> "\\p{XDigit}",
    "cntrl" -> "\\p{Cntrl}", "graph" -> "\\p{Graph}",
    "print" -> "\\p{Print}", "blank" -> "\\p{Blank}")
  def translate(p: String): String = {
    if (!p.contains("[:")) return p
    var out = p
    classes.foreach { case (name, repl) =>
      out = out.replace(s"[:$name:]", repl)
    }
    out
  }

  /** Translate, then validate that the pattern compiles — Impala
    * rejects a bad pattern with
    * `Could not compile regexp pattern: <pat>` + RE2's detail line
    * (`string-functions.cc` re2 compile, IMPALA-1756); a CONSTANT
    * pattern fails during the analyzer's constant fold, wrapped as
    * `Error evaluating "…" CAUSED BY: InternalException: …`
    * (Analyzer.java). `foldable` picks which form the raise carries.
    */
  def translateChecked(p: String, foldable: Boolean): String = {
    val out = translate(p)
    try { java.util.regex.Pattern.compile(out); out }
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        // RE2's wording for the common cases; Java's otherwise
        val desc = Option(e.getDescription).getOrElse("invalid pattern")
        val detail =
          if (desc.startsWith("Dangling meta character"))
            "no argument for repetition operator: " +
              desc.replaceAll(".*'(.)'.*", "$1")
          else desc
        val msg = s"Could not compile regexp pattern: $p Error: $detail"
        if (foldable)
          throw new IllegalStateException(
            "AnalysisException: Error evaluating expression CAUSED BY: " +
              s"InternalException: $msg")
        else Ds.udfError(msg)
    }
  }
}

/** `typeof(x)` with Impala's type spellings — uppercase, `INT` not
  * `integer` (`utility-functions-ir.cc` TypeOf; exercised by
  * decimal-exprs.test's `typeof(9.8 % 3)` → 'DECIMAL(2,1)' goldens).
  * Value-independent: evaluates from the analyzed child type only.
  */
case class ImpalaTypeof(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = true

  private def name(t: DataType): String = t match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case c: CharType => s"CHAR(${c.length})"
    case v: VarcharType => s"VARCHAR(${v.length})"
    case _: StringType => "STRING"
    case a: ArrayType => s"ARRAY<${name(a.elementType)}>"
    case m: MapType => s"MAP<${name(m.keyType)},${name(m.valueType)}>"
    case s: StructType =>
      s.fields.map(f => s"${f.name}:${name(f.dataType)}")
        .mkString("STRUCT<", ",", ">")
    case other => other.sql.toUpperCase
  }

  override def eval(input: InternalRow): Any =
    UTF8String.fromString(name(child.dataType))
  override protected def withNewChildInternal(c: Expression): ImpalaTypeof =
    copy(c)
  override def prettyName: String = "typeof"
}

/** Impala's two-argument `extract(ts, unit)` (ExtractFromExpr.java,
  * timestamp-functions.cc): the unit is a runtime STRING — column-valued
  * and case-insensitive in the reference's own goldens
  * (`extract(a.ts, b.unit)`, `EXTRACT(ts, 'MilliSECond')`) — which
  * Spark's `date_part` cannot express (foldable-only field). Returns
  * BIGINT; `millisecond` is the millis-within-second portion and
  * `epoch` the Unix seconds, both per exprs.test golden rows.
  */
case class ImpalaExtract(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == TimestampType &&
        right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract(TIMESTAMP, STRING) got (${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(tsv: Any, unitv: Any): Any = {
    val micros = tsv.asInstanceOf[Long]
    val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val ldt = java.time.LocalDateTime.ofInstant(
      DateTimeUtils.microsToInstant(micros), zone)
    unitv.toString.toLowerCase(java.util.Locale.ROOT) match {
      case "year" => ldt.getYear.toLong
      case "quarter" => ((ldt.getMonthValue - 1) / 3 + 1).toLong
      case "month" => ldt.getMonthValue.toLong
      case "day" => ldt.getDayOfMonth.toLong
      case "hour" => ldt.getHour.toLong
      case "minute" => ldt.getMinute.toLong
      case "second" => ldt.getSecond.toLong
      // Reference returns seconds*1000 + fractional millis (udf-builtins.cc:514-518)
      case "millisecond" => ldt.getSecond * 1000L + ldt.getNano / 1000000L
      // Reference computes epoch from the naive wall-clock (udf-builtins.cc:573-577)
      case "epoch" => ldt.toEpochSecond(java.time.ZoneOffset.UTC)
      case other => throw new IllegalArgumentException(
        s"Time unit '$other' not supported in extract()")
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ImpalaExtract = copy(l, r)
  override def prettyName: String = "extract"
}
