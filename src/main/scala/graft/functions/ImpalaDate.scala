package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Impala's strict DATE semantics (`be/src/runtime/date-value.cc`,
  * `date-parse-util.cc`): the reference ERRORS on unparseable or
  * out-of-range date strings where Spark's cast nulls, pins the valid
  * range to [0001-01-01, 9999-12-31] with real (proleptic Gregorian)
  * calendar validation, and refuses DATE↔numeric casts at analysis.
  * Applied by the dialect only (`ImpalaDialect.impalaExpr`), so
  * Spark-native callers keep Spark behavior — `date.test`'s CATCH
  * rows pin the whole contract.
  */
object ImpalaDateUtil {
  private val dateRe = """(\d{1,4})-(\d{1,2})-(\d{1,2})""".r
  // cast-from-string accepts a trailing time section (accept_time_toks
  // in ParseSimpleDateFormat — the date part of a default-format
  // timestamp string)
  private val timeTailRe =
    """\d{1,2}(:\d{1,2}(:\d{1,2}(\.\d*)?)?)?""".r

  /** The default-format parse: `yyyy-M-d[ HH:mm:ss[.f]]`; returns epoch
    * days, or None on any parse/range/calendar failure.
    */
  def parse(raw: String, acceptTime: Boolean): Option[Int] = {
    val s = raw.trim
    val sep = s.indexWhere(c => c == ' ' || c == 'T')
    val (datePart, tail) =
      if (sep < 0) (s, None) else (s.substring(0, sep), Some(s.substring(sep + 1)))
    if (tail.exists(t => !acceptTime || !timeTailRe.matches(t.trim)))
      return None
    datePart match {
      case dateRe(y, m, d) =>
        val yy = y.toInt
        if (yy < 1 || yy > 9999) None
        else
          try Some(java.time.LocalDate.of(yy, m.toInt, d.toInt)
            .toEpochDay.toInt)
          catch { case _: java.time.DateTimeException => None }
      case _ => None
    }
  }

  /** 1400-01-01 as epoch days — the TimestampValue lower bound. */
  val MinTimestampDays: Int =
    java.time.LocalDate.of(1400, 1, 1).toEpochDay.toInt
}

/** Strict default-format STRING→DATE cast: Impala raises
  * `String to Date parse failed. Invalid string val: '…'` instead of
  * nulling (`date-parse-util.cc` ParseSimpleDateFormat + the cast's
  * error path).
  */
case class ImpalaCastToDate(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val raw = v.toString
    ImpalaDateUtil.parse(raw, acceptTime = true).getOrElse(
      Ds.udfError(s"String to Date parse failed. Invalid string val: '$raw'"))
  }
  override protected def withNewChildInternal(c: Expression): ImpalaCastToDate =
    copy(c)
  override def prettyName: String = "impala_cast_to_date"
}

/** DATE→TIMESTAMP range guard: dates below 1400-01-01 cannot convert
  * (`date.test` — "The valid date range for the Timestamp type is
  * 1400-01-01..9999-12-31."). Passes the date through unchanged so the
  * enclosing Cast keeps Spark's zone semantics.
  */
case class ImpalaDateRangeCheck(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DateType
  override def nullable: Boolean = child.nullable
  override protected def nullSafeEval(v: Any): Any = {
    val days = v.asInstanceOf[Int]
    if (days < ImpalaDateUtil.MinTimestampDays)
      Ds.udfError("Date to Timestamp conversion failed. The valid date " +
        "range for the Timestamp type is 1400-01-01..9999-12-31.")
    days
  }
  override protected def withNewChildInternal(c: Expression): ImpalaDateRangeCheck =
    copy(c)
  override def prettyName: String = "impala_date_range_check"
}

/** Short-year fill for FORMAT-clause date parsing
  * (`datetime-parser-common.cc` PrefixYear/RoundYear): an input year
  * with fewer digits than the token takes its missing HIGH-ORDER
  * digits from the current year (YYYY/YYY/YY/Y and 1/3-digit RR
  * inputs), while a 2-digit year under RR/RRRR applies the round-year
  * century rule. `now` is the session's NOW_STRING override year when
  * set (the reference test runner pins it), else the wall clock.
  * Rewrites field `idx` of the dash-normalized input to 4 digits.
  */
case class ImpalaYearFill(child: Expression, tok: String, idx: Int,
    now: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  private def fill(d: String): String =
    if (d.length >= 4 || d.isEmpty || !d.forall(_.isDigit)) d
    else (tok, d.length) match {
      case ("RRRR" | "RR", 2) =>
        val yy = d.toInt
        val cent = now / 100
        val c =
          if (yy < 50) (if (now % 100 < 50) cent else cent + 1)
          else (if (now % 100 < 50) cent - 1 else cent)
        f"${c * 100 + yy}%04d"
      case _ => now.toString.take(4 - d.length) + d
    }
  override protected def nullSafeEval(v: Any): Any = {
    val fields = v.toString.split("-", -1)
    if (idx >= fields.length) return v.asInstanceOf[UTF8String]
    fields(idx) = fill(fields(idx).trim)
    UTF8String.fromString(fields.mkString("-"))
  }
  override protected def withNewChildInternal(c: Expression): ImpalaYearFill =
    copy(child = c)
  override def prettyName: String = "impala_year_fill"
}

/** FORMAT-clause STRING→DATE strictness: `parsed` is the lenient
  * `try_to_date` result; a null parse of a NON-null input raises the
  * reference's generic `String to Date parse failed.` (the FORMAT
  * error path omits the value).
  */
case class ImpalaDateParseStrict(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val p = left.eval(input)
    if (p == null && right.eval(input) != null)
      Ds.udfError("String to Date parse failed.")
    p
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "impala_date_fmt_strict"
}

/** DECIMAL_V2 zero-divisor guard: Impala raises `Cannot divide decimal
  * by zero` where Spark's TRY division nulls
  * (`be/src/exprs/operators.cc` decimal paths; decimal-exprs.test).
  * Passes the divisor through unchanged otherwise.
  */
case class ImpalaDecimalDivisor(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def nullSafeEval(v: Any): Any = {
    if (v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.signum == 0)
      Ds.udfError("Cannot divide decimal by zero")
    v
  }
  override protected def withNewChildInternal(c: Expression): ImpalaDecimalDivisor =
    copy(c)
  override def prettyName: String = "impala_decimal_divisor"
}

/** Strict STRING→DECIMAL cast (DECIMAL_V2): parse failure and value
  * overflow RAISE (`string-parser.h` decimal path + the V2 error
  * contract) instead of Spark's TRY null.
  */
case class ImpalaCastToDecimal(child: Expression,
    target: DecimalType) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = target
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.toString.trim
    val bd =
      try new java.math.BigDecimal(s)
      catch { case _: NumberFormatException =>
        Ds.udfError("String to Decimal parse failed") }
    val dec = org.apache.spark.sql.types.Decimal(bd)
    if (!dec.changePrecision(target.precision, target.scale))
      Ds.udfError("String to Decimal cast overflowed")
    dec
  }
  override protected def withNewChildInternal(c: Expression): ImpalaCastToDecimal =
    copy(child = c)
  override def prettyName: String = "impala_cast_to_decimal"
}

/** regexp_match_count's start-position contract: offsets below 1 RAISE
  * (`string-functions-ir.cc` RegexpMatchCount — "Illegal starting
  * position"). Passes the position through otherwise.
  */
case class ImpalaRegexpStartPos(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def nullSafeEval(v: Any): Any = {
    if (v.asInstanceOf[Number].longValue < 1L)
      throw new RuntimeException(s"Illegal starting position $v")
    v
  }
  override protected def withNewChildInternal(c: Expression): ImpalaRegexpStartPos =
    copy(c)
  override def prettyName: String = "impala_regexp_start_pos"
}

/** regexp_match_count's match-parameter contract: only i/c/m/n are
  * legal ("Illegal match parameter x").
  */
case class ImpalaRegexpParams(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def nullSafeEval(v: Any): Any = {
    v.toString.foreach { ch =>
      if ("icmn".indexOf(ch) < 0)
        throw new RuntimeException(s"Illegal match parameter $ch")
    }
    v
  }
  override protected def withNewChildInternal(c: Expression): ImpalaRegexpParams =
    copy(c)
  override def prettyName: String = "impala_regexp_params"
}

/** Impala's `trunc(ts, unit)` (`be/src/exprs/udf-builtins.cc` Trunc,
  * unit table in TruncUnitFromString): the value at the start of its
  * unit, of the input's own type (a TIMESTAMP stays a TIMESTAMP, a
  * DATE a DATE). Year units (SYYYY, YYYY, YEAR, SYEAR, YYY, YY, Y), Q,
  * month units (MONTH, MON, MM, RM), WW (the week that starts on the
  * year's first weekday), W (the week that starts on the month's first
  * weekday), day units (DDD, DD, J), DAY/DY/D (the Monday that starts
  * the week), hour units (HH, HH12, HH24) and MI. An unknown unit
  * raises "Invalid Truncate Unit". Spark's own trunc returns DATE and
  * knows only year, quarter (as QUARTER), month and week units.
  */
case class ImpalaTrunc(child: Expression, unit: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = unit
  override def dataType: DataType = child.dataType match {
    case _: StringType => TimestampType
    case t => t
  }
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case TimestampType | TimestampNTZType | DateType | _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
        s"trunc takes a TIMESTAMP or DATE, not ${t.catalogString}")
    }

  override protected def nullSafeEval(v: Any, u: Any): Any = {
    val ldt = child.dataType match {
      case TimestampType | TimestampNTZType =>
        DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).atStartOfDay
      case _ =>
        DateTimeUtils.stringToTimestamp(v.asInstanceOf[UTF8String],
          java.time.ZoneOffset.UTC).map(DateTimeUtils.microsToLocalDateTime)
          .getOrElse(return null)
    }
    val day = ldt.toLocalDate
    val out = u.toString.toUpperCase match {
      case "SYYYY" | "YYYY" | "YEAR" | "SYEAR" | "YYY" | "YY" | "Y" =>
        day.withDayOfYear(1).atStartOfDay
      case "Q" =>
        day.withDayOfMonth(1).withMonth((day.getMonthValue - 1) / 3 * 3 + 1)
          .atStartOfDay
      case "MONTH" | "MON" | "MM" | "RM" => day.withDayOfMonth(1).atStartOfDay
      case "WW" => day.minusDays((day.getDayOfYear - 1) % 7).atStartOfDay
      case "W" => day.minusDays((day.getDayOfMonth - 1) % 7).atStartOfDay
      case "DDD" | "DD" | "J" => day.atStartOfDay
      case "DAY" | "DY" | "D" =>
        day.`with`(java.time.temporal.TemporalAdjusters.previousOrSame(
          java.time.DayOfWeek.MONDAY)).atStartOfDay
      case "HH" | "HH12" | "HH24" =>
        ldt.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      case "MI" => ldt.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
      case _ => throw new RuntimeException(s"Invalid Truncate Unit: $u")
    }
    if (dataType == DateType) out.toLocalDate.toEpochDay.toInt
    else DateTimeUtils.localDateTimeToMicros(out)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): ImpalaTrunc = copy(child = l, unit = r)
  override def prettyName: String = "trunc"
}

/** A column that raises `msg` if (and only if) it is actually READ.
  * Deliberately NON-foldable: ConstantFolding must never evaluate it
  * at plan time — an unused poison column gets pruned away, a
  * referenced one raises per row.
  */
case class ImpalaRaiseOnRead(msg: String, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new RuntimeException(msg)
}
