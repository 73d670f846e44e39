package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Impala SQL dialect shim (SURVEY.md §7.1 item 3) — runs Impala SQL
  * text on Spark where the two dialects differ:
  *
  *  1. Default NULL ordering: Impala sorts ASC→NULLS LAST,
  *     DESC→NULLS FIRST (`fe/.../analysis/OrderByElement.java:115-116`)
  *     — exactly opposite to Spark. The parsed plan cannot distinguish
  *     "unspecified" from an explicit `NULLS FIRST`, so dialect mode
  *     applies Impala's default to every sort key; queries needing
  *     Spark's ordering spell it explicitly through the normal API.
  *  2. `CAST(x AS T FORMAT 'fmt')` (`be/src/exprs/cast-format-expr.h`,
  *     ISO-SQL tokens per `be/src/runtime/datetime-iso-sql-format-
  *     parser.cc`) → `to_timestamp/date_format` with the pattern
  *     translated to Spark's (Java) tokens.
  *
  * Everything else in Impala's SQL grammar that Spark already parses
  * (DIV, %, !=, <=>, ILIKE, RLIKE, ordinals in ORDER BY/GROUP BY, CTEs,
  * VALUES, lateral views) passes through untouched; name-level function
  * differences are handled by the registry layer
  * ([[graft.functions.GraftFunctions]]).
  */
object ImpalaDialect {
  import SqlText.{depthMap, isWordChar, matchingParen, replaceOutside}

  /** ISO-SQL datetime format tokens → Spark/Java pattern letters,
    * longest-first so e.g. `MI` wins over `M`.
    */
  private val formatTokens: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YYY" -> "yyy", "YY" -> "yy",
    // round-year: output direction acts exactly like YYYY/YY
    // (datetime-iso-sql-format-parser.cc; date.test "RRRR RR" case) —
    // the input-direction fill-from-current-year rule only surfaces
    // under the test runner's mocked NOW_STRING, which cannot apply
    "RRRR" -> "yyyy", "RR" -> "yy",
    "DDD" -> "DDD", "DD" -> "dd",
    "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh",
    "MI" -> "mm",
    "SSSSS" -> "", // second-of-day: unsupported, dropped
    "SS" -> "ss",
    "MONTH" -> "MMMM", "MON" -> "MMM", "MM" -> "MM",
    "DAY" -> "EEEE", "DY" -> "EEE",
    "TZH" -> "xx", "TZM" -> "",
    "FF9" -> "SSSSSSSSS", "FF6" -> "SSSSSS", "FF3" -> "SSS", "FF" -> "SSSSSS",
    "AM" -> "a", "PM" -> "a",
  )

  /** Translate an ISO-SQL format string to a Spark datetime pattern. */
  def translateFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    val upper = fmt.toUpperCase
    while (i < fmt.length) {
      formatTokens.find { case (tok, _) => upper.startsWith(tok, i) } match {
        case Some((tok, repl)) => sb.append(repl); i += tok.length
        case None => sb.append(fmt.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** Output-direction tokens no Java pattern letter can express —
    * rendered as expression pieces between date_format segments:
    * `SSSSS` (zero-padded second of day), the dotted meridiem
    * (`A.M.`/`P.M.` render WITH periods), and the truncated year tokens
    * `YYY`/`Y` (last 3/1 digits; Java pads but never truncates) —
    * datetime-iso-sql-format-parser.cc. Tokens match longest-first
    * against the WHOLE vocabulary so `YYY` never bites into `YYYY`.
    */
  private def formatOutputExpr(expr: String, rawFmt: String): String = {
    val upper = rawFmt.toUpperCase
    val specials: Map[String, String] = Map(
      "SSSSS" ->
        s"lpad(CAST(hour($expr)*3600 + minute($expr)*60 + second($expr) AS STRING), 5, '0')",
      "A.M." -> s"(CASE WHEN hour($expr) < 12 THEN 'A.M.' ELSE 'P.M.' END)",
      "P.M." -> s"(CASE WHEN hour($expr) < 12 THEN 'A.M.' ELSE 'P.M.' END)",
      "YYY" -> s"substring(lpad(CAST(year($expr) AS STRING), 4, '0'), -3, 3)",
      "Y" -> s"substring(CAST(year($expr) AS STRING), -1, 1)")
    // longest-first across pattern tokens AND specials
    val vocab: Seq[String] =
      (formatTokens.map(_._1) ++ specials.keys).distinct.sortBy(-_.length)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    val buf = new StringBuilder
    def flush(): Unit = if (buf.nonEmpty) {
      pieces += s"date_format($expr, '${buf.toString.replace("'", "''")}')"
      buf.clear()
    }
    var i = 0
    while (i < rawFmt.length) {
      vocab.find(t => upper.startsWith(t, i)) match {
        case Some(tok) if specials.contains(tok) =>
          flush()
          pieces += specials(tok)
          i += tok.length
        case Some(tok) =>
          buf.append(formatTokens.find(_._1 == tok).get._2)
          i += tok.length
        case None =>
          buf.append(rawFmt.charAt(i)); i += 1
      }
    }
    flush()
    if (pieces.isEmpty) "''"
    else if (pieces.length == 1) pieces.head
    else s"concat(${pieces.mkString(", ")})"
  }

  /** `<expr> AS <type> FORMAT '<fmt>'` tail of a CAST body; the format
    * literal may be single- or double-quoted, the target may carry a
    * length (CHAR(19), VARCHAR(38)).
    */
  private val castBodyRe =
    ("""(?is)^(.*\S)\s+AS\s+(TIMESTAMP|DATE|STRING|CHAR\s*\(\s*\d+\s*\)""" +
      """|VARCHAR(?:\s*\(\s*\d+\s*\))?)\s+FORMAT\s+(?:'([^']*)'|"([^"]*)")\s*$""").r

  /** `<expr> AS CHAR(n)` / `<expr> AS VARCHAR(n)` cast body (no FORMAT):
    * Impala's length semantics are truncate-to-n, and CHAR pads to n
    * (`fe/.../catalog/ScalarType.java:39`, CHAR/VARCHAR length
    * enforcement); Spark's expression-tier cast to these types is a
    * plain string cast with no length enforcement, so dialect mode
    * rewrites to substring/rpad.
    */
  private val charCastRe =
    """(?is)^(.*\S)\s+AS\s+(CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)\s*$""".r

  /** Time-of-day tokens of the ISO-SQL format grammar — illegal in any
    * FORMAT clause whose value side is DATE-typed
    * (`datetime-iso-sql-format-tokenizer.cc` time-token rejection).
    */
  private val timeTokRe =
    """(?i)HH12|HH24|HH|MI|SS|FF|A\.M\.|P\.M\.|\bAM\b|\bPM\b|TZH|TZM""".r
  private def hasTimeTokens(fmt: String): Boolean =
    // double-quoted sections are free literal text in the ISO-SQL
    // grammar (FORMAT 'YYYY-MM-DD"MID"') — never tokens
    timeTokRe.findFirstIn(fmt.replaceAll("\"[^\"]*\"", "")).isDefined

  /** Rewrite every FORMAT-clause CAST (Spark has no such grammar); the
    * target type picks the direction (parse vs print). A balanced-paren
    * scan, innermost-first, so nested `CAST(CAST(x AS STRING FORMAT …)
    * AS TIMESTAMP FORMAT …)` round-trips correctly.
    */
  def rewriteCastFormat(sql: String): String = {
    val span = SqlText.lex(sql).span
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (span(i) == SqlText.Code && sql.regionMatches(true, i, "CAST", 0, 4) &&
          (i == 0 || !isWordChar(sql.charAt(i - 1)))) {
        var j = i + 4
        while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
        val close = if (j < sql.length && sql.charAt(j) == '(')
          matchingParen(sql, j) else -1
        if (close > 0) {
          val inner = rewriteCastFormat(sql.substring(j + 1, close))
          castBodyRe.findFirstMatchIn(inner) match {
            case Some(m) =>
              val expr = m.group(1)
              val target = m.group(2).toUpperCase.takeWhile(Character.isLetter)
              val rawFmt = Option(m.group(3)).getOrElse(m.group(4))
              // ISO-SQL parsing treats any run of separator characters
              // as matching any other run (datetime-iso-sql-format-
              // parser.cc ProcessSeparators): normalize both the input
              // string and the format to single dashes
              val sepClass = """[-/.,:;'' ]+"""
              def normIn(e: String) =
                s"regexp_replace(CAST($e AS STRING), '$sepClass', '-')"
              def sepFmt(f: String) =
                f.replaceAll("""[-/.,:;' ]+""", "-")
              val fmt = translateFormat(sepFmt(rawFmt)).replace("'", "''")
              out.append(target match {
                case "TIMESTAMP" =>
                  // never-raise parse (Impala casts yield NULL on bad
                  // input); a 2-digit year under a YYYY token fills
                  // from the current century
                  // (datetime-iso-sql-format-parser.cc PrefixYear);
                  // results clamp to the reference's TimestampValue
                  // range [1400-01-01, 9999-12-31] → NULL outside
                  val lenient =
                    if (fmt.contains("yyyy")) Seq(fmt.replace("yyyy", "yy"))
                    else Seq.empty
                  val tries = (fmt +: lenient)
                    .map(f => s"try_to_timestamp(${normIn(expr)}, '$f')")
                  val parsed =
                    if (tries.length == 1) tries.head
                    else s"coalesce(${tries.mkString(", ")})"
                  s"impala_ts_range($parsed)"
                case "DATE" =>
                  // date type refuses time tokens outright (PARSE
                  // ERROR, datetime-iso-sql-format-tokenizer.cc), and
                  // a failed parse of a non-null input RAISES — the
                  // reference's cast has no null path (date.test)
                  if (hasTimeTokens(rawFmt))
                    throw new IllegalStateException(
                      "PARSE ERROR: Time tokens provided with date type.")
                  // short-year inputs fill from the current year
                  // (PrefixYear; RR/RRRR round-year) — rewrite the
                  // year field to 4 digits, parse with yyyy
                  val fmtFields = sepFmt(rawFmt).split("-")
                  val yearIdx = fmtFields.indexWhere(f0 => Set(
                    "YYYY", "YYY", "YY", "Y", "RRRR", "RR")(
                    f0.trim.toUpperCase))
                  if (yearIdx >= 0 && fmtFields.length > 1) {
                    val tokU = fmtFields(yearIdx).trim.toUpperCase
                    val tf = translateFormat(sepFmt(rawFmt)).split("-")
                    tf(yearIdx) = "yyyy"
                    val filled = s"impala_year_fill(${normIn(expr)}, " +
                      s"'$tokU', $yearIdx)"
                    s"impala_date_fmt_strict(" +
                      s"try_to_date($filled, '${tf.mkString("-")}'), " +
                      s"CAST($expr AS STRING))"
                  } else
                    s"impala_date_fmt_strict(" +
                      s"try_to_date(${normIn(expr)}, '$fmt'), " +
                      s"CAST($expr AS STRING))"
                case _ =>
                  val outExpr = formatOutputExpr(expr, rawFmt)
                  // a DATE-typed value side with time tokens in the
                  // format is the same PARSE ERROR — type only known
                  // at analysis, so guard through a builder check
                  if (hasTimeTokens(rawFmt))
                    s"impala_date_fmt_out_guard($expr, $outExpr)"
                  else outExpr
              })
            case None => charCastRe.findFirstMatchIn(inner) match {
              case Some(c) =>
                val expr = c.group(1)
                val n = c.group(3).toInt
                if (c.group(2).equalsIgnoreCase("CHAR"))
                  out.append(s"rpad(substring(CAST($expr AS STRING), 1, $n), $n, ' ')")
                else
                  out.append(s"substring(CAST($expr AS STRING), 1, $n)")
              case None =>
                out.append(sql.substring(i, j + 1)).append(inner).append(')')
            }
          }
          i = close + 1
        } else { out.append(sql.charAt(i)); i += 1 }
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Impala join-level plan hints (`fe/.../analysis/PlanHint.java`):
    * the bracket form `JOIN [BROADCAST] t` and the comment form
    * (slash-star +SHUFFLE star-slash after JOIN), neither of which is
    * Spark grammar (Spark hints are SELECT-level plus-hints). Each join
    * hint is lifted to the statement head on the hinted relation (alias
    * when present): BROADCAST → BROADCAST(t), SHUFFLE → SHUFFLE_HASH(t)
    * (Impala SHUFFLE means "partitioned join", DistributedPlanner.java:
    * 479-575); NOSHUFFLE is dropped (AQE owns that decision).
    * `SELECT STRAIGHT_JOIN` (SingleNodePlanner.java FROM-order fallback)
    * is stripped — FROM order is already what Spark keeps when its CBO
    * join reorder doesn't fire.
    */
  private val joinHintRe =
    ("""(?i)JOIN\s*(?:\[\s*(BROADCAST|SHUFFLE|NOSHUFFLE)\s*\]|""" +
      """/\*\s*\+\s*(BROADCAST|SHUFFLE|NOSHUFFLE)\s*\*/)\s*""" +
      """([A-Za-z_][\w.]*)(\s+(?:AS\s+)?([A-Za-z_]\w*))?""").r

  private val sqlKeywords = Set("ON", "USING", "WHERE", "GROUP", "ORDER",
    "HAVING", "LIMIT", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS",
    "UNION", "INTERSECT", "EXCEPT", "AS", "SELECT", "FROM", "VALUES",
    "WITH", "OFFSET", "WINDOW")

  private val straightJoinRe = """(?i)\bSELECT\s+STRAIGHT_JOIN\b""".r

  def rewriteHints(sql: String): String = {
    val hints = scala.collection.mutable.ArrayBuffer.empty[String]
    val stripped = replaceOutside(sql, joinHintRe) { m =>
      val hint = Option(m.group(1)).getOrElse(m.group(2)).toUpperCase
      val table = m.group(3)
      val alias = Option(m.group(5))
        .filterNot(a => sqlKeywords.contains(a.toUpperCase))
      val target = alias.getOrElse(table.split('.').last)
      hint match {
        case "BROADCAST" => hints += s"BROADCAST($target)"
        case "SHUFFLE" => hints += s"SHUFFLE_HASH($target)"
        case _ => // NOSHUFFLE: advisory no-op under AQE
      }
      s"JOIN $table${m.group(4) match { case null => ""; case s => s }}"
    }
    // fallback: hints in positions the lift cannot target (before a
    // derived table or quoted name) are still removed so the statement
    // parses — hint lost, semantics kept (hints are advisory)
    val bareStripped = replaceOutside(stripped, bareHintRe)(_ => "")
    val noStraight = replaceOutside(bareStripped, straightJoinRe)(_ => "SELECT")
    if (hints.isEmpty) noStraight
    else {
      val at = outerSelectOffset(noStraight)
      if (at < 0) noStraight
      else noStraight.patch(at + "SELECT".length,
        s" /*+ ${hints.mkString(", ")} */", 0)
    }
  }

  /** Leftover Impala-form hints with no Spark meaning: `[BROADCAST]`
    * brackets anywhere (Impala SQL has no other bracket syntax) and the
    * paren-less comment forms — Spark's own `BROADCAST(t)` hints have
    * parens and are untouched.
    */
  private val bareHintRe =
    ("""(?i)(?:\[\s*(?:BROADCAST|SHUFFLE|NOSHUFFLE)\s*\]""" +
      """|/\*\s*\+\s*(?:BROADCAST|SHUFFLE|NOSHUFFLE)\s*\*/)""").r

  /** Offset of the statement's outer query block's SELECT: the first
    * SELECT token at paren depth 0 outside string literals — skips past
    * a leading `WITH x AS (SELECT …)` prefix, where an injected hint
    * would reference relations out of scope and be silently dropped.
    */
  private[graft] def outerSelectOffset(sql: String): Int = {
    val (d, q) = depthMap(sql)
    """(?i)\bSELECT\b""".r.findAllMatchIn(sql)
      .find(m => !q(m.start) && d(m.start) == 0).map(_.start).getOrElse(-1)
  }

  /** Impala puts IGNORE NULLS *inside* the analytic call
    * (`first_value(x ignore nulls)`, AnalyticExpr.java); Spark's grammar
    * wants a second boolean argument. One nesting level of parens in the
    * operand is supported (cast(...), coalesce(...)).
    */
  private val ignoreNullsRe =
    """(?is)\b(first_value|last_value)\s*\(((?:[^()]|\([^()]*\))*?)\s+ignore\s+nulls\s*\)""".r

  /** Impala accepts zero-argument `count()` as `count(*)`. */
  private val countEmptyRe = """(?i)\bcount\s*\(\s*\)""".r

  /** Impala accepts double-quoted typed literals (`DATE "2020-01-01"`);
    * Spark's grammar wants single quotes.
    */
  private val typedLitRe = """(?i)\b(DATE|TIMESTAMP)\s+"([^"]*)"""".r

  /** Impala's two-argument `extract(ts, 'unit')` (ExtractFromExpr.java)
    * → Spark's `date_part('unit', ts)`; the SQL-standard
    * `EXTRACT(unit FROM ts)` form parses in both and is untouched.
    */
  private val extract2Re =
    """(?i)\bextract\s*\(([^(),]+?),\s*([^()]+?)\)""".r

  private def rewriteFunctionForms(sql: String): String = {
    val a = replaceOutside(sql, ignoreNullsRe)(m =>
      s"${m.group(1)}(${m.group(2)}, true)")
    val b = replaceOutside(a, countEmptyRe)(_ => "count(*)")
    val c = replaceOutside(b, typedLitRe)(m => s"${m.group(1)} '${m.group(2)}'")
    replaceOutside(c, extract2Re)(m =>
      s"impala_extract(${m.group(1).trim}, ${m.group(2).trim})")
  }

  private val rightSemiAntiRe = """(?i)\bRIGHT\s+(SEMI|ANTI)\s+JOIN\b""".r

  /** Impala supports RIGHT SEMI/ANTI JOIN (`TJoinOp`, PlanNodes.thrift:
    * 361-378); Spark's grammar has only the LEFT forms. Semantically
    * `A RIGHT SEMI JOIN B ON c ≡ B LEFT SEMI JOIN A ON c` — swap the
    * operands. Conservative: rewrites only when the left operand is the
    * single relation directly after FROM at the same nesting depth
    * (no preceding join tree or comma list); anything else is left
    * untouched rather than risk a wrong swap.
    */
  def rewriteRightSemiAnti(sql: String): String = {
    val (d, q) = depthMap(sql)
    val m = rightSemiAntiRe.findAllMatchIn(sql).find(m => !q(m.start)).orNull
    if (m == null) return sql
    val depth = d(m.start)
    val froms = """(?i)\bFROM\b""".r
      .findAllMatchIn(sql.substring(0, m.start)).toSeq
      .filter(f => !q(f.start) && d(f.start) == depth)
    if (froms.isEmpty) return sql
    val f = froms.last
    val between = sql.substring(f.end, m.start)
    val singleRelation =
      !between.zipWithIndex.exists { case (c, k) =>
        c == ',' && !q(f.end + k) && d(f.end + k) == depth } &&
      !"""(?i)\bJOIN\b""".r.findAllMatchIn(between).exists(j =>
        !q(f.end + j.start) && d(f.end + j.start) == depth)
    if (!singleRelation) return sql
    val on = """(?i)\bON\b""".r.findAllMatchIn(sql)
      .find(o => o.start >= m.end && !q(o.start) && d(o.start) == depth)
      .orNull
    if (on == null) return sql
    val rel1 = between.trim
    val rel2 = sql.substring(m.end, on.start).trim
    rewriteRightSemiAnti(
      sql.substring(0, f.end) + " " + rel2 + " LEFT " +
        m.group(1).toUpperCase + " JOIN " + rel1 + " " + sql.substring(on.start))
  }

  /** Impala allows double-quoted column aliases (`sum(x) as "30 days"`,
    * used throughout the reference's TPC-DS corpus); Spark wants
    * backticks. Only the post-AS position is rewritten — double-quoted
    * STRING literals elsewhere (`cast("0" as float)`) are untouched.
    */
  private val quotedAliasRe = """(?i)\bAS\s+"([^"]*)"""".r

  /** Impala accepts `&&` / `!` as AND / factorial
    * (`fe/src/main/cup/sql-parser.cup` expr rules; factorial
    * `be/src/exprs/math-functions`). `!=` stays untouched.
    */
  private val andAmpRe = """&&""".r
  private val factorialRe = """\b([A-Za-z_]\w*|\d+)\s*!(?![=\w])""".r

  /** Column-valued INTERVAL operand (`ts + INTERVAL smallint_col DAYS`,
    * sql-parser.cup timestamp arithmetic) — Spark's grammar wants a
    * literal, but multiplies an interval by an integral column, so
    * `INTERVAL <col> <unit>` → `(<col> * INTERVAL 1 <unit>)`. Literal
    * operands (INTERVAL 3 DAYS) parse natively and are not touched.
    */
  private val columnIntervalRe =
    ("""(?i)\bINTERVAL\s+([A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)*)\s+""" +
      """(YEARS?|MONTHS?|WEEKS?|DAYS?|HOURS?|MINUTES?|SECONDS?|MILLISECONDS?|MICROSECONDS?)\b""").r

  /** Impala's INSERT puts the column list BEFORE the PARTITION clause;
    * Spark wants PARTITION first.
    */
  private val insertColsPartitionRe =
    ("""(?i)\b(INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?[\w.]+)\s*""" +
      """\(([^()]*)\)\s*PARTITION\s*\(([^()]*)\)""").r

  /** Impala's REAL is an alias for DOUBLE (`catalog/ScalarType.java`
    * type aliases); Spark's REAL is FLOAT, so `cast(x AS REAL)` would
    * round-trip through float precision.
    */
  private val realAliasRe = """(?i)\bAS\s+REAL\b""".r

  /** Impala LIMIT/OFFSET take int64 (`sql-parser.cup` limit_offset);
    * Spark's are int32 expressions. A literal beyond Int.MaxValue is
    * clamped — indistinguishable in effect, since no result set reaches
    * 2^31 rows through a collect-side LIMIT (top-n.test's
    * LIMIT/OFFSET 9223372036854775807 golden).
    */
  private val hugeLimitRe = """(?i)\b(LIMIT|OFFSET)\s+(\d{10,19})\b""".r

  /** An OFFSET beyond Int.MaxValue skips more rows than any result set
    * can hold — the whole LIMIT/OFFSET tail collapses to `LIMIT 0`
    * (clamping alone won't do: Spark checks limit+offset ≤ Int.MaxValue).
    */
  private val hugeOffsetRe =
    """(?i)\b(?:LIMIT\s+\d+\s+)?OFFSET\s+(\d{10,19})\b""".r

  /** A huge LIMIT paired with a small OFFSET must be clamped jointly:
    * Spark rejects limit+offset > Int.MaxValue, so `LIMIT int64max
    * OFFSET 5` becomes `LIMIT (Int.MaxValue-5) OFFSET 5`.
    */
  private val hugeLimitSmallOffsetRe =
    """(?i)\bLIMIT\s+(\d{10,19})\s+OFFSET\s+(\d{1,9})\b""".r

  private def rewriteMiscForms(sql: String): String = {
    val a0 = replaceOutside(sql, realAliasRe)(_ => "AS DOUBLE")
    val a = replaceOutside(a0, quotedAliasRe)(m => "AS `" + m.group(1) + "`")
    val b = replaceOutside(a, andAmpRe)(_ => " AND ")
    val c = replaceOutside(b, factorialRe)(m => s"factorial(${m.group(1)})")
    val e = replaceOutside(c, columnIntervalRe)(m =>
      s"(${m.group(1)} * INTERVAL 1 ${m.group(2)})")
    val f0 = replaceOutside(e, hugeOffsetRe)(m =>
      if (BigInt(m.group(1)) > Int.MaxValue) "LIMIT 0" else m.matched)
    val f = replaceOutside(f0, hugeLimitSmallOffsetRe) { m =>
      val off = m.group(2).toLong
      if (BigInt(m.group(1)) > Int.MaxValue && off <= Int.MaxValue)
        s"LIMIT ${Int.MaxValue - off} OFFSET $off"
      else m.matched
    }
    val g = replaceOutside(f, hugeLimitRe)(m =>
      if (BigInt(m.group(2)) > Int.MaxValue) s"${m.group(1)} ${Int.MaxValue}"
      else m.matched)
    replaceOutside(g, insertColsPartitionRe)(m =>
      s"${m.group(1)} PARTITION (${m.group(3)}) (${m.group(2)})")
  }

  private val itemAliasRe =
    """(?is)^(.+?)\s+(?:as\s+)?([A-Za-z_]\w*|`[^`]+`)\s*$""".r

  private val aliasGuard = Set("null", "true", "false", "and", "or", "not",
    "then", "else", "end", "as", "when", "in", "is", "between", "like",
    "from", "where", "on", "group", "order", "limit", "join", "union",
    "intersect", "except", "select", "values", "interval")

  /** Impala names inline-view VALUES columns by aliasing the FIRST row's
    * exprs — `(VALUES((1 x), (2), (3))) T`, `(values ('a' as s), ('b'))
    * v` (sql-parser.cup values_operand_list); Spark's grammar has no row
    * aliases, it wants a column list on the table alias: `(VALUES (1),
    * (2), (3)) T(x)`. This strips first-row aliases, appends the alias
    * column list, and unwraps Impala's optional extra paren around the
    * row list (which Spark would read as one wide row).
    */
  private[graft] def rewriteValuesAliases(sql: String): String = {
    var s = sql
    var guard = 0
    var changed = true
    while (changed && guard < 24) {
      changed = false
      guard += 1
      val (d, q) = depthMap(s)
      val hit = """(?i)\bVALUES\b""".r.findAllMatchIn(s)
        .filter(m => !q(m.start)).flatMap { m =>
          rewriteOneValues(s, m.start, m.end)
        }.toSeq.headOption
      hit.foreach { next => s = next; changed = true }
    }
    s
  }

  /** Rewrite the VALUES occurrence at [vs, ve) if its first row carries
    * aliases; None when there is nothing to do.
    */
  /** Standalone `VALUES ((r1), (r2), …)` (no inline-view context):
    * Impala reads the wrap as a row list, Spark as ONE wide row of
    * structs — unwrap when every top-level element of the single paren
    * group is itself parenthesized and the group is the whole VALUES
    * body (followed by end/ORDER/LIMIT/set-op).
    */
  private def unwrapBareValues(s: String, ve: Int): Option[String] = {
    var r0 = ve
    while (r0 < s.length && Character.isWhitespace(s.charAt(r0))) r0 += 1
    if (r0 >= s.length || s.charAt(r0) != '(') return None
    val c0 = matchingParen(s, r0)
    if (c0 < 0) return None
    val inner = s.substring(r0 + 1, c0)
    if (!inner.trim.startsWith("(")) return None
    val items = SqlText.split(inner).map(_.trim)
    if (items.length < 2 ||
        !items.forall(i => i.startsWith("(") && i.endsWith(")"))) return None
    var after = c0 + 1
    while (after < s.length && Character.isWhitespace(s.charAt(after))) after += 1
    val tailOk = after >= s.length ||
      Seq("ORDER", "LIMIT", "UNION", "INTERSECT", "EXCEPT").exists(k =>
        s.regionMatches(true, after, k, 0, k.length))
    if (!tailOk) return None
    Some(s.patch(r0, inner.trim, c0 - r0 + 1))
  }

  private def rewriteOneValues(s: String, vs: Int, ve: Int): Option[String] = {
    // enclosing subquery paren directly before VALUES
    var p = vs - 1
    while (p >= 0 && Character.isWhitespace(s.charAt(p))) p -= 1
    if (p < 0 || s.charAt(p) != '(') return unwrapBareValues(s, ve)
    val open = p
    val close = matchingParen(s, open)
    if (close < 0) return None
    // column-list insertion point: a table alias after the subquery
    // (inline view `(values ...) v`) or the CTE name before it
    // (`name AS (values ...)` → `name(cols) AS (...)`)
    val aliasRe = """\G\s*(?:[Aa][Ss]\s+)?([A-Za-z_]\w*)""".r
    val aliasEnd: Int = aliasRe.findFirstMatchIn(s.substring(close + 1)) match {
      case Some(m) if m.start == 0 &&
          !sqlKeywords.contains(m.group(1).toUpperCase) =>
        val e = close + 1 + m.end
        var after = e
        while (after < s.length && Character.isWhitespace(s.charAt(after))) after += 1
        if (after < s.length && s.charAt(after) == '(') return None // has col list
        e
      case _ =>
        // CTE form: identifier AS ( VALUES ... )
        var q2 = open - 1
        while (q2 >= 0 && Character.isWhitespace(s.charAt(q2))) q2 -= 1
        if (q2 < 1 || !s.regionMatches(true, q2 - 1, "as", 0, 2) ||
            (q2 - 2 >= 0 && isWordChar(s.charAt(q2 - 2)))) return None
        var n2 = q2 - 2
        while (n2 >= 0 && Character.isWhitespace(s.charAt(n2))) n2 -= 1
        if (n2 < 0 || !isWordChar(s.charAt(n2))) return None
        n2 + 1
    }
    // first paren group after VALUES
    var r0 = ve
    while (r0 < close && s.charAt(r0) != '(') {
      if (!Character.isWhitespace(s.charAt(r0))) return None
      r0 += 1
    }
    if (r0 >= close) return None
    val c0 = matchingParen(s, r0)
    if (c0 < 0 || c0 > close) return None
    val inner = s.substring(r0 + 1, c0)
    val wrapped = inner.trim.startsWith("(") &&
      s.substring(c0 + 1, close).trim.isEmpty
    val (rowsFrom, rowsTo) =
      if (wrapped) (r0 + 1, c0) else (ve, close)
    val rows = SqlText.split(s.substring(rowsFrom, rowsTo))
    val first = rows.head.trim
    if (!(first.startsWith("(") && first.endsWith(")"))) return None
    val items = SqlText.split(first.substring(1, first.length - 1)).map(_.trim)
    val parsed = items.zipWithIndex.map { case (item, i) =>
      itemAliasRe.findFirstMatchIn(item) match {
        case Some(m) if SqlText.balanced(m.group(1)) &&
            !aliasGuard.contains(m.group(2).toLowerCase) =>
          (m.group(1).trim, Some(m.group(2)))
        case _ => (item, None)
      }
    }
    // Impala names every VALUES column: by its alias when given, else
    // by the first-row expression's text (`NullLiteral`/`toSql` — the
    // goldens reference `0` and `cast('-inf' as double)` literally).
    // Auto-naming is safe here: the result compare is positional, and
    // Spark's default col1.. names are never referenced.
    def exprName(text: String): String =
      "`" + text.trim.replace("`", "``") + "`"
    val names = parsed.map { case (txt, a) => a.getOrElse(exprName(txt)) }
    val newFirst = parsed.map(_._1).mkString("(", ", ", ")")
    val newRows = (newFirst +: rows.tail.map(_.trim)).mkString(", ")
    // two patches at independent offsets (cols left of rows for the
    // CTE form, right of them for an inline view) — apply the
    // higher-offset one first so the other's offsets stay valid
    val colsPatch = (aliasEnd, s"(${names.mkString(", ")})", 0)
    val rowsPatch =
      if (wrapped) // drop the wrapping paren: Spark reads it as one row
        (r0, newRows, c0 - r0 + 1)
      else (rowsFrom, " " + newRows, rowsTo - rowsFrom)
    val out = Seq(colsPatch, rowsPatch).sortBy(-_._1)
      .foldLeft(s) { case (acc, (at, txt, len)) => acc.patch(at, txt, len) }
    Some(out)
  }

  /** Impala lets a union/intersect/except branch carry its own ORDER BY
    * / LIMIT without parentheses (sql-parser.cup union_operand); Spark
    * requires the branch parenthesized. Wraps every non-final top-level
    * branch that contains a depth-0 ORDER BY or LIMIT; a trailing
    * ORDER BY/LIMIT on the final branch stays outside (it applies to
    * the whole set-op result, as in Impala). A leading WITH prefix on
    * the first branch stays outside the parens so its CTEs remain in
    * scope for the other branches.
    */
  private[graft] def rewriteSetOpBranches(sql: String): String = {
    // recurse into parenthesized subregions first (nested inline views
    // carry the same Impala branch grammar)
    val (d0, q0) = depthMap(sql)
    val sb0 = new StringBuilder
    var i0 = 0
    var emitted = 0
    while (i0 < sql.length) {
      if (sql.charAt(i0) == '(' && !q0(i0) && d0(i0) == 1) {
        val close = matchingParen(sql, i0)
        if (close > i0 + 1) {
          sb0.append(sql.substring(emitted, i0 + 1))
            .append(rewriteSetOpBranches(sql.substring(i0 + 1, close)))
          emitted = close
          i0 = close
        } else i0 += 1
      } else i0 += 1
    }
    sb0.append(sql.substring(emitted))
    val rec = sb0.toString
    val (d, q) = depthMap(rec)
    val ops = """(?i)\b(?:UNION|INTERSECT|EXCEPT)(?:\s+(?:ALL|DISTINCT))?\b""".r
      .findAllMatchIn(rec).filter(m => d(m.start) == 0 && !q(m.start)).toSeq
    if (ops.isEmpty) return rec
    val starts = 0 +: ops.map(_.end)
    val ends = ops.map(_.start) :+ rec.length
    def needsParens(from: Int, to: Int): Boolean =
      """(?i)\b(?:ORDER\s+BY|LIMIT)\b""".r
        .findAllMatchIn(rec.substring(from, to))
        .exists(m => d(from + m.start) == 0 && !q(from + m.start))
    val sb = new StringBuilder
    starts.indices.foreach { i =>
      val branch = rec.substring(starts(i), ends(i))
      val isLast = i == starts.length - 1
      val t = branch.trim
      // IMPALA-4741 (sql-parser.cup set_operation_with_order_by_or_limit):
      // a trailing ORDER BY/LIMIT binds to the LAST OPERAND when that
      // operand is a bare select_stmt — it only binds to the set op when
      // the last operand is parenthesized (or a VALUES). Spark always
      // binds it globally, so the bare-select last branch is
      // parenthesized WITH its trailing clauses.
      if (needsParens(starts(i), ends(i)) &&
          (t.toLowerCase.startsWith("select") || t.toLowerCase.startsWith("with"))) {
        if (t.toLowerCase.startsWith("with")) {
          val off = outerSelectOffset(branch)
          if (off > 0)
            sb.append(branch.substring(0, off))
              .append('(').append(branch.substring(off).trim).append(") ")
          else sb.append(branch)
        } else sb.append(" (").append(t).append(") ")
      } else sb.append(branch)
      if (!isLast) sb.append(rec.substring(ends(i), starts(i + 1)))
    }
    sb.toString
  }

  /** Impala types a bare NULL literal as BOOLEAN
    * (`fe/.../analysis/NullLiteral.java` — Type.BOOLEAN, matching the
    * golden HS2_TYPES); Spark types it VOID, under which
    * INTERSECT/EXCEPT over VALUES rows never match. Scoped to VALUES
    * row items in statements with a depth-0 INTERSECT/EXCEPT — in
    * INSERT bodies the target column supplies the type in both engines.
    */
  private[graft] def rewriteValuesNullType(sql: String): String = {
    val (d, q) = depthMap(sql)
    val hasSetOp = """(?i)\b(?:INTERSECT|EXCEPT)\b""".r.findAllMatchIn(sql)
      .exists(m => d(m.start) == 0 && !q(m.start))
    if (!hasSetOp) return sql
    val valuesRe = """(?i)\bVALUES\b""".r
    var out = sql
    var changed = true
    while (changed) {
      changed = false
      val (_, qq) = depthMap(out)
      valuesRe.findAllMatchIn(out).filterNot(m => qq(m.start)).foreach { m =>
        if (!changed) {
          var p = m.end
          while (p < out.length && Character.isWhitespace(out.charAt(p))) p += 1
          if (p < out.length && out.charAt(p) == '(') {
            val close = matchingParen(out, p)
            if (close > 0) {
              val inner = out.substring(p + 1, close)
              def mapItems(s: String): String =
                SqlText.split(s).map { it =>
                  val t = it.trim
                  if (t.equalsIgnoreCase("null")) " CAST(NULL AS BOOLEAN)"
                  else if (t.startsWith("(") && t.endsWith(")"))
                    " (" + mapItems(t.substring(1, t.length - 1)) + ")"
                  else it
                }.mkString(",")
              val rewritten = mapItems(inner)
              if (rewritten != inner) {
                out = out.substring(0, p + 1) + rewritten + out.substring(close)
                changed = true
              }
            }
          }
        }
      }
    }
    out
  }

  /** Impala gives UNION/INTERSECT/EXCEPT EQUAL precedence, associating
    * left to right (`fe/src/main/cup/sql-parser.cup` union_operand
    * chain); Spark follows the standard where INTERSECT binds tighter.
    * A depth-0 chain that mixes INTERSECT with other set-ops is
    * re-associated explicitly: `a UNION b INTERSECT c` →
    * `((a UNION b) INTERSECT c)`. A trailing depth-0 ORDER BY/LIMIT of
    * the final branch stays global; a leading WITH stays outside.
    */
  private[graft] def rewriteSetOpAssoc(sql: String): String = {
    val (d, q) = depthMap(sql)
    val ops = """(?i)\b(?:UNION|INTERSECT|EXCEPT)(?:\s+(?:ALL|DISTINCT))?\b""".r
      .findAllMatchIn(sql).filter(m => d(m.start) == 0 && !q(m.start)).toSeq
    if (ops.length < 2) return sql
    val kinds = ops.map(_.matched.trim.split("\\s+")(0).toUpperCase).toSet
    if (!kinds.contains("INTERSECT") || kinds.size < 2) return sql
    // leading WITH prefix stays outside
    val prefixEnd =
      if (sql.trim.toLowerCase.startsWith("with")) {
        val off = outerSelectOffset(sql)
        if (off < 0) return sql else off
      } else 0
    var branches = (prefixEnd +: ops.map(_.end))
      .zip(ops.map(_.start) :+ sql.length)
      .map { case (s, e) => sql.substring(s, e) }
    // split the global tail (ORDER BY/LIMIT at depth 0) off the last branch
    val last = branches.last
    val lastStart = ops.last.end
    val tailAt = """(?i)\b(?:ORDER\s+BY|LIMIT)\b""".r
      .findAllMatchIn(last)
      .find(m => d(lastStart + m.start) == 0 && !q(lastStart + m.start))
      .map(_.start)
    val tail = tailAt.map(last.substring(_)).getOrElse("")
    branches = branches.init :+ tailAt.map(last.substring(0, _)).getOrElse(last)
    val assoc = branches.tail.zip(ops.map(_.matched))
      .foldLeft(branches.head.trim) { case (acc, (b, op)) =>
        s"($acc $op ${b.trim})"
      }
    sql.substring(0, prefixEnd) + assoc + " " + tail
  }

  private val orderTailKeywords = Seq("LIMIT", "OFFSET", "UNION",
    "INTERSECT", "EXCEPT", "ROWS", "RANGE", "WINDOW")

  /** Impala's default NULL ordering is ASC → NULLS LAST, DESC → NULLS
    * FIRST (`fe/.../analysis/OrderByElement.java:115-116`) — exactly
    * opposite to Spark's. Applied at the TEXT level: every sort key
    * without an explicit NULLS FIRST/LAST (statement-level ORDER BY and
    * analytic OVER(... ORDER BY ...) alike) gets Impala's default
    * appended; explicit clauses are left untouched. (The former
    * plan-level SortOrder flip could not distinguish explicit from
    * default and inverted explicit clauses.)
    */
  private[graft] def rewriteOrderByNulls(sql: String): String = {
    val (d, q) = depthMap(sql)
    val obs = """(?i)\bORDER\s+BY\b""".r.findAllMatchIn(sql)
      .filter(m => !q(m.start)).toSeq
    if (obs.isEmpty) return sql
    // insertion points for " NULLS FIRST/LAST", collected left to right
    val inserts = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    obs.foreach { m =>
      val d0 = d(m.start)
      var i = m.end
      var itemStart = i
      def keywordAt(p: Int): Boolean = orderTailKeywords.exists { k =>
        sql.regionMatches(true, p, k, 0, k.length) &&
          (p + k.length >= sql.length || !isWordChar(sql.charAt(p + k.length))) &&
          (p == 0 || !isWordChar(sql.charAt(p - 1)))
      }
      def closeItem(end: Int): Unit = {
        val item = sql.substring(itemStart, end).trim
        if (item.nonEmpty &&
            !"""(?is).*\bNULLS\s+(FIRST|LAST)\s*$""".r.matches(item)) {
          val tail = if ("""(?is).*\bDESC\s*$""".r.matches(item))
            " NULLS FIRST" else " NULLS LAST"
          // insert right after the item's last non-ws char
          var e = end
          while (e > itemStart && Character.isWhitespace(sql.charAt(e - 1))) e -= 1
          inserts += ((e, tail))
        }
      }
      var done = false
      while (i < sql.length && !done) {
        val c = sql.charAt(i)
        if (q(i)) i += 1
        else if (d(i) < d0) { closeItem(i); done = true } // closing paren
        else if (c == ',' && d(i) == d0) { closeItem(i); itemStart = i + 1; i += 1 }
        else if (d(i) == d0 && keywordAt(i)) { closeItem(i); done = true }
        else i += 1
      }
      if (!done) closeItem(sql.length)
    }
    inserts.sortBy(-_._1).foldLeft(sql) { case (s, (p, t)) => s.patch(p, t, 0) }
  }

  /** All string-level dialect rewrites, in application order. */
  def rewrite(text: String): String =
    rewriteOrderByNulls(
      rewriteSetOpAssoc(
        rewriteSetOpBranches(
          rewriteValuesNullType(
            rewriteValuesAliases(
              rewriteMiscForms(
                rewriteFunctionForms(
                  rewriteGroupingArgs(
                    rewriteOrderByWindowOrdinal(
                      rewriteWithColumnLabels(
                        rewriteCastFormat(
                          rewriteRightSemiAnti(rewriteHints(text)))))))))))))

  /** Impala permits a WITH-view column-label list SHORTER than the
    * view's select list — unlabeled columns keep their own names
    * (`with t(c1) as (select int_col, bigint_col …)` → labels C1,
    * BIGINT_COL; with-clause.test, `fe/.../analysis/WithClause.java`).
    * Spark requires arity match, so pad the label list with the
    * remaining items' derived names (bare column / trailing alias) —
    * skipping the rewrite when a remaining item has no clean name.
    * Over-long label lists are left alone: both engines reject them.
    */
  private val withLabelsRe =
    """(?i)\b(with\s+|,\s*)([A-Za-z_]\w*)\s*\(([^()]*)\)\s*as\s*\(""".r

  def rewriteWithColumnLabels(sql: String): String = {
    if (!sql.toLowerCase.contains("with")) return sql
    val (_, q) = depthMap(sql)
    withLabelsRe.findAllMatchIn(sql).toSeq.filter(m => !q(m.start)).reverse
      .foldLeft(sql) { (s, m) =>
        val labels = m.group(3).split(",").map(_.trim).filter(_.nonEmpty)
        val bodyOpen = m.end - 1
        val bodyClose = matchingParen(s, bodyOpen)
        if (bodyClose < 0) s
        else {
          val body = s.substring(bodyOpen + 1, bodyClose)
          val selItems = for {
            sel <- """(?i)^\s*select\b""".r.findFirstMatchIn(body)
            fromM <- {
              val (bd, bq) = depthMap(body)
              """(?i)\bfrom\b""".r.findAllMatchIn(body)
                .find(f => !bq(f.start) && bd(f.start) == 0)
            }
          } yield SqlText.split(body.substring(sel.end, fromM.start))
            .map(_.trim)
          selItems match {
            case Some(items) if items.length > labels.length =>
              val nameRe = """(?is)^(?:.*?[\s.])?([A-Za-z_]\w*)\s*$""".r
              val extras = items.drop(labels.length).map {
                case nameRe(n) => Some(n)
                case _ => None
              }
              if (extras.forall(_.isDefined)) {
                val full = (labels ++ extras.flatten).mkString(", ")
                s.substring(0, m.start(3)) + full + s.substring(m.end(3))
              } else s
            case _ => s
          }
        }
      }
  }

  /** Impala allows an ORDER BY item to repeat a select-list ANALYTIC
    * expression (`… order by percent_rank() over (order by id)` —
    * analytic-fns.test, IMPALA-2158 family); Spark rejects window
    * functions in ORDER BY. When an ORDER BY item containing `OVER (`
    * textually matches a select item, replace it with that item's
    * ordinal — the binding Impala's analyzer picks.
    */
  def rewriteOrderByWindowOrdinal(sql: String): String = {
    val low = sql.toLowerCase
    if (!low.contains("over") || !low.contains("order")) return sql
    val (d, q) = depthMap(sql)
    def norm(s: String) = s.toLowerCase.replaceAll("\\s+", "")
    val obRe = """(?i)\border\s+by\b""".r
    val selRe = """(?i)\bselect\b""".r
    val fromRe2 = """(?i)\bfrom\b""".r
    val out = new StringBuilder(sql)
    obRe.findAllMatchIn(sql).toSeq.filter(m => !q(m.start)).reverse
      .foreach { m =>
        val dep = d(m.start)
        // the scope's select list (skip this ORDER BY when none shares
        // its depth — e.g. a set-op tail ORDER BY)
        for {
          sel <- selRe.findAllMatchIn(sql).toSeq
            .filter(s => s.start < m.start && !q(s.start) && d(s.start) == dep)
            .lastOption
          from <- fromRe2.findAllMatchIn(sql)
            .find(f => f.start > sel.end && !q(f.start) && d(f.start) == dep)
        } {
        val items = SqlText.split(sql.substring(sel.end, from.start))
          .map(_.trim).map(_.stripPrefix("distinct").trim)
        // the ORDER BY list extent: until depth drops below dep or a
        // depth-dep LIMIT/OFFSET keyword
        var end = sql.length
        val lim = """(?i)\b(limit|offset)\b""".r.findAllMatchIn(sql)
          .find(l => l.start > m.end && !q(l.start) && d(l.start) == dep)
        lim.foreach(l => end = l.start)
        var i = m.end
        while (i < end) {
          if (!q(i) && d(i) < dep) { end = i }
          i += 1
        }
        val listTxt = sql.substring(m.end, end)
        val sortRe = """(?is)^(.*?)(\s+(?:asc|desc))?(\s+nulls\s+(?:first|last))?\s*$""".r
        val newItems = SqlText.split(listTxt).map { raw =>
          raw match {
            case sortRe(expr, dir, nulls)
                if norm(expr).contains("over(") =>
              val idx = items.indexWhere(it => norm(it) == norm(expr.trim))
              if (idx >= 0)
                s" ${idx + 1}${Option(dir).getOrElse("")}${Option(nulls).getOrElse("")}"
              else raw
            case _ => raw
          }
        }
        if (newItems != SqlText.split(listTxt))
          out.replace(m.end, end, newItems.mkString(","))
        }
      }
    out.toString
  }

  /** Impala binds `grouping(<expr>)` by EXPRESSION EQUIVALENCE against
    * the grouping list (fe FunctionCallExpr), so
    * `select grouping(int_col % 2), int_col % 2 i … group by cube(i,…)`
    * analyzes; Spark requires the grouping() argument to BE a grouping
    * expression, and when the CUBE list names the select alias the
    * expression form fails GROUPING_COLUMN_MISMATCH
    * (grouping-sets.test). Rewrite: a grouping() argument whose
    * normalized text equals an aliased select item becomes the alias.
    */
  private val groupingCallRe = """(?i)\bgrouping\s*\(""".r
  private val selectItemAliasRe =
    """(?is)^(.*?\S)\s+(?:as\s+)?([A-Za-z_]\w*)\s*$""".r

  def rewriteGroupingArgs(sql: String): String = {
    if (!sql.toLowerCase.contains("grouping")) return sql
    val (d, q) = depthMap(sql)
    def norm(s: String) = s.toLowerCase.replaceAll("\\s+", "")
    // select-list items of every scope: text between each unquoted
    // SELECT and its matching FROM at the same depth
    val aliasOf = scala.collection.mutable.Map.empty[String, String]
    """(?i)\bselect\b""".r.findAllMatchIn(sql).filter(m => !q(m.start))
      .foreach { m =>
        val dep = d(m.start)
        val from = """(?i)\bfrom\b""".r.findAllMatchIn(sql)
          .find(f => f.start > m.end && !q(f.start) && d(f.start) == dep)
        from.foreach { f =>
          SqlText.split(sql.substring(m.end, f.start)).foreach {
            case selectItemAliasRe(expr, alias) =>
              aliasOf(norm(expr)) = alias
            case _ =>
          }
        }
      }
    if (aliasOf.isEmpty) return sql
    // aliases whose EXPRESSION form appears as a grouping() argument —
    // only these expand inside the CUBE/ROLLUP list (a bare identifier
    // that is really a column, not an alias, is left alone elsewhere)
    val expandable: Map[String, String] = groupingCallRe
      .findAllMatchIn(sql).filter(m => !q(m.start)).flatMap { m =>
        val close = matchingParen(sql, m.end - 1)
        if (close < 0) None
        else {
          val arg = sql.substring(m.end, close)
          aliasOf.get(norm(arg)).map(alias => alias.toLowerCase -> arg)
        }
      }.toMap
    if (expandable.isEmpty) return sql
    val listRe = """(?i)\b(?:cube|rollup|grouping\s+sets)\s*\(""".r
    listRe.findAllMatchIn(sql).toSeq.filter(m => !q(m.start)).reverse
      .foldLeft(sql) { (s, m) =>
        val open = m.end - 1
        val close = matchingParen(s, open)
        if (close < 0) s
        else {
          val args = SqlText.split(s.substring(open + 1, close))
            .map { a =>
              expandable.get(a.trim.toLowerCase)
                .map(e => s"($e)").getOrElse(a)
            }
          s.substring(0, open + 1) + args.mkString(",") + s.substring(close)
        }
      }
  }

  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, Literal, RLike, TimestampAddInterval, FromUTCTimestamp, ToUTCTimestamp, MicrosToTimestamp, SecondsToTimestamp, MillisToTimestamp, TimestampAddYMInterval, DatetimeSub, EvalMode, Divide, Remainder, IntegralDivide, FromUnixTime, And, GreaterThanOrEqual, LessThanOrEqual}
  import org.apache.spark.sql.types.{DoubleType, FloatType, StringType, TimestampType}
  import graft.functions.{ImpalaTsValid, ImpalaFloatToString}

  /** Impala's time-only timestamp strings are invalid ("01:05:03" casts
    * to NULL, `timestamp-parse-util.cc` — a date part is mandatory);
    * Spark fills in the current date.
    */
  private val timeOnlyRe =
    Literal("^\\s*\\d{1,2}:\\d{2}(:\\d{2}(\\.\\d+)?)?\\s*$")

  /** Post-analysis expression rewrites for semantics Spark resolves
    * differently (applied on the analyzed plan, where child types are
    * known):
    *   - casts / arithmetic / tz-conversions producing TIMESTAMP are
    *     nullified outside Impala's [1400-01-01, 9999-12-31] validity
    *     range (`timestamp-value.h`; Spark represents year 43571)
    *   - string→timestamp casts reject time-only strings
    *   - DOUBLE/FLOAT→STRING casts use Impala's `%.17g`/`%.9g`
    *     (`cast-functions-ir.cc`; Spark prints `1.0`/`1.0E7`)
    */
  /** Render a cast operand the way Impala's analyzer prints it in
    * "Invalid type cast of …" (Expr.toSql): date literals keep the
    * typed-literal form, decimals print bare (no Spark BD suffix).
    */
  private def impalaLitSql(e: Expression): String = e match {
    case l: Literal => l.dataType match {
      case _: org.apache.spark.sql.types.DecimalType => l.value.toString
      case _ => l.sql
    }
    case c: Cast if c.child.isInstanceOf[Literal] =>
      s"CAST(${impalaLitSql(c.child)} AS " +
        s"${graft.functions.DsResolve.typeName(c.dataType)})"
    case c: graft.functions.ImpalaV1DecimalCast
        if c.child.isInstanceOf[Literal] =>
      // V1 truncating casts print as the CAST the user wrote
      s"CAST(${impalaLitSql(c.child)} AS " +
        s"${graft.functions.DsResolve.typeName(c.dataType)})"
    case other => other.sql
  }

  /** `DATE '…'` literals validate eagerly with Impala's calendar/range
    * rules (`LiteralExpr.java` date literal analysis — year 0, bad
    * leap days and garbage all reject; Spark's proleptic parser accepts
    * year 0). Text-level, before parse, so the pinned
    * "Invalid date literal" beats Spark's own messages.
    */
  /** Hive-only query clauses Impala's grammar rejects (sql-parser.y has
    * no SORT BY / CLUSTER BY / DISTRIBUTE BY select clause — SORT BY
    * exists only as the CREATE TABLE `SORT BY (…)` / `SORT BY ZORDER`
    * property, hence the paren/zorder exception). Spark parses all
    * three, so the dialect must reject them itself
    * (views-compatibility.test pins the Impala-side failure).
    */
  private val hiveSortByRe =
    """(?i)\bsort\s+by\b(?!\s*(?:\(|zorder\b|lexical\b))""".r
  private val hiveClusterByRe =
    """(?i)\b(?:cluster|distribute)\s+by\b""".r

  private def validateImpalaGrammar(text: String): Unit = {
    val masked = SqlText.mask(text)
    if (hiveSortByRe.findFirstIn(masked).isDefined ||
        hiveClusterByRe.findFirstIn(masked).isDefined)
      throw new IllegalStateException(
        "ParseException: Syntax error: SORT BY / CLUSTER BY / " +
          "DISTRIBUTE BY is not valid Impala syntax")
  }

  private val dateLitRe =
    """(?is)\bDATE\s+(?:'([^']*)'|"([^"]*)")""".r
  private def validateDateLiterals(text: String): Unit = {
    // scan the masked text (a DATE keyword inside a string or comment
    // is invisible), then read the literal back from the original via
    // the group offsets — masking is length-preserving
    val masked = SqlText.mask(text)
    dateLitRe.findAllMatchIn(masked).foreach { m =>
      val g = if (m.group(1) != null) 1 else 2
      val v = text.substring(m.start(g), m.end(g))
      if (graft.functions.ImpalaDateUtil.parse(v, acceptTime = false).isEmpty)
        throw new IllegalStateException(
          s"AnalysisException: Invalid date literal: '$v'")
    }
  }

  /** Is the session in legacy DECIMAL_V2=false ("V1") mode? V1 decimal
    * semantics: truncating divide/cast, NULL-with-warning instead of
    * raising on overflow/parse failure, input-typed avg, int128
    * wraparound sums (TypesUtil.getDecimalArithmeticResultTypeV1,
    * decimal-exprs.test `set decimal_v2=false` sections).
    */
  private def decimalV1Mode(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.opt.DECIMAL_V2")
      .exists(v => v.equalsIgnoreCase("false") || v.trim == "0")

  private def activeV1: Boolean =
    scala.util.Try(decimalV1Mode(SparkSession.active)).getOrElse(false)

  /** Strip analyzer-inserted lossless decimal widening casts so V1
    * arithmetic result types derive from the operands' ORIGINAL types
    * (Impala's analyzer computes them pre-coercion; Spark's post-).
    */
  private def stripDecimalWiden(e: Expression): Expression = e match {
    case c: Cast if c.child.resolved &&
        c.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
        (c.child.dataType match {
          case cd: org.apache.spark.sql.types.DecimalType =>
            val d = c.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
            d.scale >= cd.scale &&
              d.precision - d.scale >= cd.precision - cd.scale
          case _ => false
        }) => stripDecimalWiden(c.child)
    // impalaExpr applies bottom-up, so by the time the parent
    // Divide/Remainder case runs, any resolved decimal→decimal Cast has
    // already been rewritten to ImpalaV1DecimalCast — recurse through
    // those too when they are lossless widenings
    case v: graft.functions.ImpalaV1DecimalCast if v.child.resolved &&
        (v.child.dataType match {
          case cd: org.apache.spark.sql.types.DecimalType =>
            v.declS >= cd.scale &&
              v.declP - v.declS >= cd.precision - cd.scale
          case _ => false
        }) => stripDecimalWiden(v.child)
    case _ => e
  }

  private def impalaExpr: PartialFunction[Expression, Expression] = {
    val v1 = activeV1
    impalaExprPf(v1)
  }

  private def impalaExprPf(v1: Boolean): PartialFunction[Expression, Expression] = {
    case c: Cast if c.dataType == TimestampType &&
        c.evalMode == EvalMode.ANSI && c.child.resolved &&
        c.child.dataType.isInstanceOf[StringType] =>
      // Impala returns NULL for unparseable timestamp strings
      // (`timestamp-parse-util.cc` — no error path in the cast)
      If(RLike(c.child, timeOnlyRe),
        Literal.create(null, TimestampType),
        ImpalaTsValid(c.copy(evalMode = EvalMode.TRY)))
    // uncorrelated scalar subqueries raise Impala's multi-row error
    // ("Subquery must not return more than one row:") — the guard
    // aggregate replaces Spark's own runtime assert, same shape
    // (count + first over the subquery), Impala's client-visible text
    case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
        if s.plan.resolved && s.outerAttrs.isEmpty &&
          !s.plan.output.headOption.exists(
            _.name == "__impala_scalar_guard") =>
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, First}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val out = s.plan.output.head
      val cnt = Count(Seq(Literal(1))).toAggregateExpression()
      val first = First(out, ignoreNulls = false).toAggregateExpression()
      val guarded = If(GreaterThan(cnt, Literal(1L)),
        Cast(RaiseError(Literal(
          "Subquery must not return more than one row: ")), out.dataType),
        first)
      s.withNewPlan(Aggregate(Nil,
        Seq(Alias(guarded, "__impala_scalar_guard")()), s.plan))
    // APPX_COUNT_DISTINCT=1 rewrites count(DISTINCT x) onto ndv(x)
    // (FunctionCallExpr.java rewrite; the bit-exact HLL pipeline) —
    // at scale this trades the distinct shuffle for a fixed sketch
    case ae: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression
        if ae.isDistinct && (ae.aggregateFunction match {
          case c: org.apache.spark.sql.catalyst.expressions.aggregate
            .Count => c.children.length == 1
          case _ => false
        }) && org.apache.spark.sql.internal.SQLConf.get
          .getConfString("graft.opt.APPX_COUNT_DISTINCT", "0")
          .toLowerCase.matches("1|true") =>
      ae.copy(aggregateFunction = graft.functions.NdvHll(
          ae.aggregateFunction.children.head),
        isDistinct = false)
    // --- strict DATE contract (date.test; be/src/runtime/date-value.cc)
    // DATE↔numeric casts are rejected at analysis with Impala's message
    case Cast(child, org.apache.spark.sql.types.DateType, _, _)
        if child.resolved &&
          child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
      throw new IllegalStateException(
        s"AnalysisException: Invalid type cast of ${impalaLitSql(child)} " +
          s"from ${graft.functions.DsResolve.typeName(child.dataType)} to DATE")
    case Cast(child, t, _, _) if child.resolved &&
        child.dataType == org.apache.spark.sql.types.DateType &&
        t.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
      throw new IllegalStateException(
        s"AnalysisException: Invalid type cast of ${impalaLitSql(child)} " +
          s"from DATE to ${graft.functions.DsResolve.typeName(t)}")
    // DATE→TIMESTAMP raises below the TimestampValue floor instead of
    // nulling (UDF ERROR — "valid date range … 1400-01-01..9999-12-31")
    case c @ Cast(child, TimestampType, _, _) if child.resolved &&
        child.dataType == org.apache.spark.sql.types.DateType &&
        !child.isInstanceOf[graft.functions.ImpalaDateRangeCheck] =>
      ImpalaTsValid(
        c.copy(child = graft.functions.ImpalaDateRangeCheck(child)))
    // default-format STRING→DATE cast raises on parse failure with the
    // offending value (Spark's TRY cast nulls)
    case Cast(child, org.apache.spark.sql.types.DateType, _, _)
        if child.resolved && child.dataType.isInstanceOf[StringType] =>
      graft.functions.ImpalaCastToDate(child)
    case c @ Cast(child, TimestampType, _, _) if child.resolved &&
        child.dataType != TimestampType =>
      ImpalaTsValid(c)
    case c @ Cast(child, StringType, _, _) if child.resolved &&
        (child.dataType == DoubleType || child.dataType == FloatType) =>
      ImpalaFloatToString(child)
    // Impala's casts and arithmetic never raise: unparseable strings,
    // division/modulo by zero and numeric overflow all yield NULL
    // (`be/src/util/string-parser.h` PARSE_FAILURE → NULL,
    // `operators.cc` — C++ has no SQLSTATE 22012). Spark's TRY eval
    // mode is the exact analog of that contract.
    // strict STRING→DECIMAL (DECIMAL_V2 errors on parse failure and
    // overflow — decimal-exprs.test CATCH contract); V1 NULLs with a
    // UDF WARNING instead (string-parser.h PARSE_FAILURE under V1)
    case c: Cast if !v1 && c.child.resolved &&
        c.child.dataType.isInstanceOf[StringType] &&
        c.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
      graft.functions.ImpalaCastToDecimal(c.child,
        c.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType])
    case c: Cast if v1 && c.evalMode == EvalMode.ANSI && c.child.resolved &&
        c.child.dataType.isInstanceOf[StringType] &&
        c.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
      c.copy(evalMode = EvalMode.TRY)
    // V1 decimal→decimal cast truncates toward zero and NULLs when the
    // value does not fit the target precision (decimal-exprs.test
    // `cast(d3 as decimal(20,3))` → 1.234 not 1.235; the IMPALA-1837
    // precision-loss coalesce row)
    case c: Cast if v1 && c.child.resolved &&
        c.child.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
        c.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
      val d = c.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
      graft.functions.ImpalaV1DecimalCast(c.child, d.precision, d.scale)
    case c: Cast if c.evalMode == EvalMode.ANSI && c.child.resolved &&
        c.child.dataType.isInstanceOf[StringType] &&
        c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
      c.copy(evalMode = EvalMode.TRY)
    case d: Divide if d.resolved && d.dataType == DoubleType =>
      graft.functions.ImpalaDoubleDiv(d.left, d.right)
    // V1 decimal division/modulo: result type per the V1 rule over the
    // ORIGINAL operand types (widening coercions stripped), truncation
    // toward zero, NULL on zero divisor or >38-digit result
    case d: Divide if v1 && d.resolved &&
        d.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
      val l = stripDecimalWiden(d.left)
      val r = stripDecimalWiden(d.right)
      (l.dataType, r.dataType) match {
        case (a: org.apache.spark.sql.types.DecimalType,
              b: org.apache.spark.sql.types.DecimalType) =>
          val (p, s) = graft.functions.ImpalaDecimalV1.v1ResultType(
            a.precision, a.scale, b.precision, b.scale, "div")
          graft.functions.ImpalaV1Divide(l, r, p, s)
        case _ => d
      }
    case m: Remainder if v1 && m.resolved &&
        m.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
      val l = stripDecimalWiden(m.left)
      val r = stripDecimalWiden(m.right)
      (l.dataType, r.dataType) match {
        case (a: org.apache.spark.sql.types.DecimalType,
              b: org.apache.spark.sql.types.DecimalType) =>
          val (p, s) = graft.functions.ImpalaDecimalV1.v1ResultType(
            a.precision, a.scale, b.precision, b.scale, "mod")
          graft.functions.ImpalaV1Mod(l, r, p, s)
        case _ => m
      }
    // DECIMAL_V2 division/modulo by zero RAISES ("Cannot divide
    // decimal by zero", operators.cc) — guard the divisor; other
    // arithmetic failure modes keep the TRY-null contract
    case d: Divide if !v1 && d.resolved &&
        d.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
        !d.right.isInstanceOf[graft.functions.ImpalaDecimalDivisor] =>
      Divide(d.left, graft.functions.ImpalaDecimalDivisor(d.right),
        d.evalContext.copy(evalMode = EvalMode.TRY))
    case r: Remainder if !v1 && r.resolved &&
        r.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
        !r.right.isInstanceOf[graft.functions.ImpalaDecimalDivisor] =>
      Remainder(r.left, graft.functions.ImpalaDecimalDivisor(r.right),
        r.evalContext.copy(evalMode = EvalMode.TRY))
    case d: Divide if d.evalMode == EvalMode.ANSI =>
      Divide(d.left, d.right, d.evalContext.copy(evalMode = EvalMode.TRY))
    case r: Remainder if r.evalMode == EvalMode.ANSI =>
      Remainder(r.left, r.right, r.evalContext.copy(evalMode = EvalMode.TRY))
    case r: IntegralDivide if r.evalMode == EvalMode.ANSI =>
      IntegralDivide(r.left, r.right,
        r.evalContext.copy(evalMode = EvalMode.TRY))
    case e: TimestampAddInterval => ImpalaTsValid(e)
    case e: org.apache.spark.sql.catalyst.expressions.TimestampAdd =>
      ImpalaTsValid(e)
    case e: DatetimeSub if e.dataType == TimestampType => ImpalaTsValid(e)
    case e: TimestampAddYMInterval => ImpalaTsValid(e)
    case e: FromUTCTimestamp => ImpalaTsValid(e)
    case e: ToUTCTimestamp => ImpalaTsValid(e)
    case e: MicrosToTimestamp => ImpalaTsValid(e)
    case e: MillisToTimestamp => ImpalaTsValid(e)
    case e: SecondsToTimestamp => ImpalaTsValid(e)
    // Impala DECIMAL_V2 avg(DECIMAL(p,s)) returns DECIMAL(38,
    // max(s,6)) (FunctionCallExpr.java avg resolution); Spark's result
    // scale is s+4, which under-reports for s<2 (avg over
    // decimal(10,0) → 4 digits where Impala shows 6 —
    // parquet-decimal-formats.test). Recompute at scale 6 and present
    // as DECIMAL(38,6); s≥2 already yields scale ≥6 and stays native.
    case ae @ org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression(avg @ org.apache.spark.sql.catalyst
        .expressions.aggregate.Average(child, _), _, _, _, _)
        if !v1 && child.resolved && (child.dataType match {
          // integer digits must fit DECIMAL(38,6) — avg over
          // decimal(38,0) extremes keeps Spark's native scale instead
          // of overflowing (decimal-exprs.test boundary rows)
          case d: org.apache.spark.sql.types.DecimalType =>
            d.scale < 2 && d.precision - d.scale <= 32
          case _ => false
        }) =>
      Cast(
        ae.copy(aggregateFunction = avg.copy(child =
          Cast(child, org.apache.spark.sql.types.DecimalType(38, 6)))),
        org.apache.spark.sql.types.DecimalType(38, 6))
    // …but a windowed avg must keep the AggregateExpression as the
    // window function: the bottom-up pass above would leave
    // WindowExpression(Cast(avg…)), which Spark rejects
    // (UNSUPPORTED_EXPR_FOR_WINDOW — decimal-exprs.test sliding
    // frames). Hoist the presentation cast outside the OVER.
    case we @ org.apache.spark.sql.catalyst.expressions.WindowExpression(
        c @ Cast(ae: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateExpression, _, _, _), _) =>
      Cast(we.copy(windowFunction = ae), c.dataType)
    // IMPALA-2184: FromUnixtime range-checks the epoch seconds against
    // the TIMESTAMP validity window and yields NULL outside it
    // (timestamp-functions.cc); Spark silently overflows the ×1e6
    // multiply for huge inputs and fabricates a wrapped year.
    case f: FromUnixTime if f.resolved && (f.sec.dataType ==
        org.apache.spark.sql.types.LongType || f.sec.dataType ==
        org.apache.spark.sql.types.IntegerType) =>
      If(And(GreaterThanOrEqual(f.sec, Literal(-17987443200L)),
          LessThanOrEqual(f.sec, Literal(253402300799L))),
        f, Literal.create(null, f.dataType))
  }

  /** Run Impala-dialect SQL: string-level rewrites (hints, format
    * casts, grammar forms, Impala default NULL ordering), parse,
    * analyze, then apply [[impalaExpr]] with child types resolved.
    */
  /** Pre-analysis pass: VALUES rows are evaluated EAGERLY by
    * ResolveInlineTables during analysis, so literal-typed expressions
    * (already resolved at parse time) must carry Impala semantics
    * before it runs; every case guards on `.resolved`, so unresolved
    * column refs pass through untouched. Non-decimal division is
    * additionally rewritten BEFORE type coercion widens it into the
    * TRY case — Impala's `/` on any non-decimal numerics is raw C++
    * double division (inf/nan, never an error), which the post-analysis
    * pass already gives every non-VALUES context.
    */
  private def preAnalysisFix(plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan = {
    val preDivide: PartialFunction[Expression, Expression] = {
      case d: Divide if d.left.resolved && d.right.resolved &&
          Seq(d.left, d.right).forall(e =>
            e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
              !e.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]) =>
        graft.functions.ImpalaDoubleDiv(
          Cast(d.left, org.apache.spark.sql.types.DoubleType),
          Cast(d.right, org.apache.spark.sql.types.DoubleType))
    }
    // grouping_id(cols…) over ANY subset/order of the grouping columns
    // (Impala allows it; Spark demands the exact full grouping list):
    // rewrite to the equivalent bit-sum of grouping() calls — identical
    // to Spark's own value when the full list is given
    val groupingId: PartialFunction[Expression, Expression] = {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("grouping_id") &&
            f.arguments.nonEmpty =>
        val n = f.arguments.length
        f.arguments.zipWithIndex.map { case (a, i) =>
          org.apache.spark.sql.catalyst.expressions.Multiply(
            Cast(f.copy(nameParts = Seq("grouping"), arguments = Seq(a)),
              org.apache.spark.sql.types.LongType),
            Literal((1L << (n - 1 - i)),
              org.apache.spark.sql.types.LongType)): Expression
        }.reduce(org.apache.spark.sql.catalyst.expressions.Add(_, _))
    }
    // ---- DECIMAL_V2=false pre-analysis rewrites ----
    val v1 = activeV1
    // V1 literal heuristic (Expr.convertNumericLiteralsFromDecimal):
    // in binary arithmetic where exactly ONE side is a decimal literal
    // (not an explicit decimal cast) and the other is integer/float
    // typed, the literal converts to DOUBLE — `10.0 / 0` is raw double
    // division (inf), `typeof(9.6 % 3)` is DOUBLE.
    def decLit(e: Expression)
        : Option[org.apache.spark.sql.types.Decimal] = e match {
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d)
      case _ => None
    }
    def intOrFloat(e: Expression): Boolean = e.resolved && (e.dataType match {
      case _: org.apache.spark.sql.types.DecimalType => false
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    })
    def v1Heuristic(b: org.apache.spark.sql.catalyst.expressions
        .BinaryArithmetic): Option[(Expression, Expression)] =
      (decLit(b.left), decLit(b.right)) match {
        case (Some(d), None) if intOrFloat(b.right) =>
          Some((Literal(d.toDouble), b.right))
        case (None, Some(d)) if intOrFloat(b.left) =>
          Some((b.left, Literal(d.toDouble)))
        case _ => None
      }
    // Impala types integer literals by value (NumericLiteral picks the
    // smallest integer type) — mod()'s V1 arg coercion needs it
    def minResDecimal(e: Expression): Option[(Int, Int)] = e match {
      case Literal(d: org.apache.spark.sql.types.Decimal, _) =>
        Some((d.precision, d.scale))
      case Literal(v: Int, _) =>
        val a = math.abs(v.toLong)
        Some((if (a <= 127) 3 else if (a <= 32767) 5 else 10, 0))
      case Literal(v: Long, _) => Some((19, 0))
      case c: Cast if c.resolved &&
          c.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        val d = c.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
        Some((d.precision, d.scale))
      case _ => None
    }
    val v1Pre: PartialFunction[Expression, Expression] = {
      case d: Divide if v1 && v1Heuristic(d).isDefined =>
        val (l, r) = v1Heuristic(d).get
        graft.functions.ImpalaDoubleDiv(
          Cast(l, org.apache.spark.sql.types.DoubleType),
          Cast(r, org.apache.spark.sql.types.DoubleType))
      case b: org.apache.spark.sql.catalyst.expressions.BinaryArithmetic
          if v1 && !b.isInstanceOf[org.apache.spark.sql.catalyst
            .expressions.IntegralDivide] && v1Heuristic(b).isDefined =>
        val (l, r) = v1Heuristic(b).get
        b.withNewChildren(Seq(l, r))
      // V1 mod() FUNCTION (unlike the % operator, no literal
      // heuristic): args coerce to their assignment-compatible decimal
      // type — typeof(mod(9.6, 3)) is DECIMAL(4,1) where 9.6 % 3 is
      // DOUBLE (decimal-exprs.test V1 typeof rows)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if v1 && f.nameParts.map(_.toLowerCase) == Seq("mod") &&
            f.arguments.length == 2 &&
            f.arguments.exists(a => a.resolved &&
              a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]) &&
            f.arguments.forall(a => minResDecimal(a).isDefined) =>
        val Seq((pa, sa), (pb, sb)) = f.arguments.map(minResDecimal(_).get)
        val db = math.max(pa - sa, pb - sb)
        val da = math.max(sa, sb)
        val cp = math.min(38, db + da)
        val cs = math.min(da, cp)
        val ct = org.apache.spark.sql.types.DecimalType(cp, cs)
        val (p, s) = graft.functions.ImpalaDecimalV1.v1ResultType(
          cp, cs, cp, cs, "mod")
        graft.functions.ImpalaV1Mod(
          Cast(f.arguments.head, ct), Cast(f.arguments(1), ct), p, s)
      // V1 decimal common-type keeps the max scale and sacrifices
      // digits LEFT of the point (createClippedDecimalType — Spark
      // keeps integer digits and trims scale): pre-coerce coalesce
      // args so `coalesce(1.8, cast(0 as decimal(38,38)))` loses the
      // 1.8 to precision (IMPALA-1837 row)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if v1 && f.nameParts.map(_.toLowerCase) == Seq("coalesce") &&
            f.arguments.length >= 2 &&
            f.arguments.forall(a => a.resolved &&
              a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]) &&
            f.arguments.map(_.dataType).distinct.length > 1 =>
        val ds = f.arguments.map(
          _.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType])
        val db = ds.map(d => d.precision - d.scale).max
        val da = ds.map(_.scale).max
        val cp = math.min(38, db + da)
        val cs = math.min(da, cp)
        f.copy(arguments = f.arguments.map(a =>
          graft.functions.ImpalaV1DecimalCast(a, cp, cs)))
    }
    val pf = v1Pre.orElse(preDivide).orElse(groupingId).orElse(impalaExpr)
    // grouping()/grouping_id() in a GROUP BY with NO grouping sets:
    // Spark's analyzer throws (UNSUPPORTED_GROUPING_EXPRESSION); the
    // reference evaluates them as constant 0 (every row is the base
    // grouping) — grouping-sets.test's plain-GROUP-BY block
    def zeroPlainGrouping(
        agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate)
        : org.apache.spark.sql.catalyst.plans.logical.Aggregate = {
      import org.apache.spark.sql.catalyst.expressions.{BaseGroupingSets}
      val hasSets = agg.groupingExpressions.exists(ge =>
        ge.exists(_.isInstanceOf[BaseGroupingSets]))
      if (hasSets) agg
      else agg.transformExpressionsUp {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("grouping") =>
          Cast(Literal(0), org.apache.spark.sql.types.ByteType)
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase) == Seq("grouping_id") =>
          Literal(0L)
      }
    }
    plan.transformUpWithSubqueries {
      // WITH-clause column labels must match the view's arity — Impala
      // rejects at analysis with the view's name (AnalyzeStmtsTest;
      // with-clause.test). Countable only when the select list has no
      // star; Spark's own check still guards the rest.
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach { case (nm, sa, _) =>
          sa.child match {
            case org.apache.spark.sql.catalyst.analysis
                .UnresolvedSubqueryColumnAliases(cols,
                  p: org.apache.spark.sql.catalyst.plans.logical.Project)
                if !p.projectList.exists(e =>
                  e.isInstanceOf[org.apache.spark.sql.catalyst.analysis
                    .UnresolvedStar]) &&
                  p.projectList.length != cols.length =>
              throw new IllegalStateException(
                s"AnalysisException: WITH-clause view '$nm' returns " +
                  s"${p.projectList.length} columns, but ${cols.length} " +
                  "labels were specified.")
            case _ =>
          }
        }
        w.transformExpressionsUp(pf)
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if agg.aggregateExpressions.exists(_.exists {
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
              Seq(Seq("grouping"), Seq("grouping_id"))
                .contains(f.nameParts.map(_.toLowerCase))
            case _ => false
          }) =>
        zeroPlainGrouping(agg).transformExpressionsUp(pf)
      // Impala accepts a bare NULL predicate (`WHERE NULL` ≡ no rows,
      // empty.test); Spark's analyzer requires BOOLEAN
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.isInstanceOf[Literal] &&
            f.condition.dataType == org.apache.spark.sql.types.NullType =>
        f.copy(condition =
          Cast(f.condition, org.apache.spark.sql.types.BooleanType))
      case p => p.transformExpressionsUp(pf)
    }
  }

  /** ROLLUP/CUBE/GROUPING SETS over EMPTY input: the SQL standard (and
    * the reference — its `()` grouping class is a non-grouping
    * AggregationNode, which always emits one row on empty input, like
    * `SELECT count(*)` does) returns the global `()` row; Spark's
    * grouping-sets lowering groups on the expanded grouping-id column,
    * so an empty input yields zero groups and NO rows (tpcds q27/q80
    * at small SF). Post-analysis repair: union the aggregate with a
    * constants-only `()` row — every aggregate over empty input is a
    * constant (count→0, sum/avg/min/max→NULL, grouping()→1) — guarded
    * by `count(*) = 0` over the un-expanded child. The guard is a
    * count-star aggregate (column-pruned, parquet metadata fast path),
    * so the extra branch costs no real second scan at scale; when the
    * input is non-empty the guard row filters out and the original
    * plan's result is unchanged.
    */
  private def emptyGroupingSetRow(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
      Filter => LFilter, Project, Union}
    import org.apache.spark.sql.types.LongType

    def emptyVal(ae: AggregateExpression): Option[Expression] =
      ae.aggregateFunction match {
        case _: Count => Some(Literal(0L))
        case _: Sum | _: Average | _: Min | _: Max | _: First | _: Last |
            _: StddevPop | _: StddevSamp | _: VariancePop | _: VarianceSamp |
            _: Skewness | _: Kurtosis | _: Corr | _: CovPopulation |
            _: CovSample =>
          Some(Literal.create(null, ae.dataType))
        case _ => None
      }

    plan.transformUpWithSubqueries {
      case agg @ Aggregate(gexprs, aggs, expand: Expand, _)
          if gexprs.length >= 2 &&
            gexprs.forall(_.isInstanceOf[AttributeReference]) &&
            gexprs.last.asInstanceOf[AttributeReference].name ==
              org.apache.spark.sql.catalyst.expressions.VirtualColumn
                .groupingIdName => {
        val n = gexprs.length - 1
        val allBits = (1L << n) - 1
        val gid = gexprs.last.asInstanceOf[AttributeReference]
        val hasEmptySet = expand.projections.exists(p => p.lastOption match {
          case Some(Literal(v: Long, LongType)) => v == allBits
          case Some(Literal(v: Int, _)) => v.toLong == allBits
          case _ => false
        })
        val nullCopyIds = gexprs.init
          .map(_.asInstanceOf[AttributeReference].exprId).toSet
        val supported = hasEmptySet && aggs.forall(_.collect {
          case ae: AggregateExpression => emptyVal(ae).isDefined
        }.forall(identity))
        if (!supported) agg
        else {
          val constRow: Seq[NamedExpression] = aggs.map { ne =>
            val e = ne match {
              case a: Alias => a.child
              case other => other
            }
            val const = e.transform {
              case a: AttributeReference if nullCopyIds(a.exprId) =>
                Literal.create(null, a.dataType)
              case a: AttributeReference if a.exprId == gid.exprId =>
                Literal.create(allBits, a.dataType)
              case ae: AggregateExpression => emptyVal(ae).get
            }
            Alias(const, ne.name)()
          }
          val cnt = Alias(Count(Seq(Literal(1))).toAggregateExpression(),
            "__graft_empty_probe")()
          val guard = LFilter(
            org.apache.spark.sql.catalyst.expressions.EqualTo(
              cnt.toAttribute, Literal(0L)),
            Aggregate(Nil, Seq(cnt), expand.child))
          Union(Seq(agg, Project(constRow, guard)))
        }
      }
    }
  }

  /** DECIMAL_V2 runtime overflow RAISES (decimal-exprs.test:97-165;
    * `be/src/exprs/aggregate-functions-ir.cc` sum/avg overflow checks,
    * `decimal-value.inline.h` arithmetic overflow flags): Spark's
    * non-ANSI decimal paths null on overflow — indistinguishable from
    * an all-NULL group, the worst silent-wrong-answer delta for money
    * pipelines. Post-analysis pass:
    *  - sum(decimal p≥29): pair with count(child) — a NULL sum over a
    *    non-empty group raises `Sum computation overflowed`. Both legs
    *    are ordinary partial-able aggregates (map-side combine kept).
    *  - avg(decimal): same buffer guard, plus Impala's output contract
    *    DECIMAL(38, max(s,6)) — a mean that needs >38 digits at scale
    *    max(s,6) raises `Avg computation overflowed` (reachable only
    *    when integer digits > 32, which the scale-6 avg rewrite above
    *    excludes). Check-only: the presented type stays Spark's.
    *  - decimal +,-,* whose NATURAL result precision exceeds 38 (the
    *    only truncation that can overflow): a NULL result from
    *    non-NULL operands raises `Decimal expression overflowed`.
    *    Arithmetic that fits 38 digits by construction is untouched
    *    and stays on the codegen path.
    */
  private def decimalOverflowGuards(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And,
      GreaterThan, If => CIf, IsNull, Multiply, NamedExpression, Subtract}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Average, Count, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.DecimalType

    if (activeV1) return decimalV1Guards(plan)

    def decOf(e: Expression): Option[DecimalType] = e.dataType match {
      case d: DecimalType => Some(d)
      case _ => None
    }
    def raise(msg: String, dt: org.apache.spark.sql.types.DataType) =
      graft.functions.ImpalaRaiseOnRead(s"UDF ERROR: $msg", dt)
    // NULL aggregate over a non-empty group = buffer overflow
    def nullGuard(ae: AggregateExpression, child: Expression,
        msg: String): Expression = {
      val cnt = ae.copy(aggregateFunction = Count(Seq(child)),
        resultId = NamedExpression.newExprId)
      CIf(And(IsNull(ae), GreaterThan(cnt, Literal(0L))),
        raise(msg, ae.dataType), ae)
    }
    val aggPf: PartialFunction[Expression, Expression] = {
      // ANSI sum/avg raise Spark's wording at overflow; TRY nulls —
      // flip to TRY so the guard owns the message
      case ae @ AggregateExpression(s: Sum, _, _, _, _)
          if decOf(s.child).exists(_.precision >= 29) =>
        val trySum = ae.copy(aggregateFunction =
          s.copy(evalContext = s.evalContext.copy(evalMode = EvalMode.TRY)))
        nullGuard(trySum, s.child, "Sum computation overflowed")
      case ae @ AggregateExpression(av: Average, _, _, _, _)
          if decOf(av.child).exists(d =>
            d.precision >= 29 || d.precision - d.scale > 32) =>
        val d = decOf(av.child).get
        val tryAvg = ae.copy(aggregateFunction =
          av.copy(evalMode = EvalMode.TRY))
        val base: Expression =
          if (d.precision >= 29)
            nullGuard(tryAvg, av.child, "Avg computation overflowed")
          else tryAvg
        if (d.precision - d.scale > 32)
          graft.functions.ImpalaDecimalRescale(base, math.max(6, d.scale),
            "Avg computation overflowed")
        else base
    }
    // natural (un-truncated) result precision — overflow is impossible
    // unless the type system had to cap it at 38
    def naturalOverflows(l: Expression, r: Expression,
        isMultiply: Boolean): Boolean =
      (decOf(l), decOf(r)) match {
        case (Some(a), Some(b)) =>
          if (isMultiply) a.precision + b.precision + 1 > 38
          else math.max(a.scale, b.scale) +
            math.max(a.precision - a.scale, b.precision - b.scale) + 1 > 38
        case _ => false
      }
    val arithPf: PartialFunction[Expression, Expression] = {
      case m: Multiply if m.resolved &&
          m.dataType.isInstanceOf[DecimalType] &&
          naturalOverflows(m.left, m.right, isMultiply = true) =>
        graft.functions.ImpalaDecimalArithGuard(Multiply(m.left, m.right,
          m.evalContext.copy(evalMode = EvalMode.TRY)))
      case a: Add if a.resolved && a.dataType.isInstanceOf[DecimalType] &&
          naturalOverflows(a.left, a.right, isMultiply = false) =>
        graft.functions.ImpalaDecimalArithGuard(Add(a.left, a.right,
          a.evalContext.copy(evalMode = EvalMode.TRY)))
      case s: Subtract if s.resolved &&
          s.dataType.isInstanceOf[DecimalType] &&
          naturalOverflows(s.left, s.right, isMultiply = false) =>
        graft.functions.ImpalaDecimalArithGuard(Subtract(s.left, s.right,
          s.evalContext.copy(evalMode = EvalMode.TRY)))
    }
    plan.transformUpWithSubqueries {
      case a: Aggregate if a.resolved =>
        val newAggs = a.aggregateExpressions.map(
          _.transformUp(aggPf.orElse(arithPf))
            .asInstanceOf[NamedExpression])
        if (newAggs == a.aggregateExpressions) a
        else a.copy(aggregateExpressions = newAggs)
      case p => p.transformExpressionsUp(arithPf)
    }
  }

  /** Legacy DECIMAL_V2=false aggregate/arithmetic execution: no raises
    * anywhere — arithmetic overflow NULLs (TRY mode), sum over a
    * 38-digit decimal wraps around in int128 exactly like the BE's
    * unchecked `val16 +=` (decimal-exprs.test's "negative number is
    * incorrectly returned"), and avg divides the wraparound sum by the
    * count with truncation, presented at the INPUT type's scale (V1
    * avg returns the input type). The wraparound sum is computed as
    * TWO ordinary partial-able sums over the unscaled value's hi/lo
    * 19-digit halves — map-side combine is preserved and neither half
    * can itself overflow.
    */
  private def decimalV1Guards(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Multiply,
      NamedExpression, Subtract, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Average, Count, Sum}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    import org.apache.spark.sql.types.DecimalType

    def decOf(e: Expression): Option[DecimalType] = e.dataType match {
      case d: DecimalType => Some(d)
      case _ => None
    }
    def trySum(child: Expression): Sum = {
      val s = Sum(child)
      s.copy(evalContext = s.evalContext.copy(evalMode = EvalMode.TRY))
    }
    def wrapSumLegs(ae: AggregateExpression, child: Expression)
        : (Expression, Expression) = {
      val hi = ae.copy(aggregateFunction =
        trySum(graft.functions.ImpalaDecimalHi(child)),
        resultId = NamedExpression.newExprId)
      val lo = ae.copy(aggregateFunction =
        trySum(graft.functions.ImpalaDecimalLo(child)),
        resultId = NamedExpression.newExprId)
      (hi, lo)
    }
    val aggPf: PartialFunction[Expression, Expression] = {
      case ae @ AggregateExpression(s: Sum, _, false, None, _)
          if decOf(s.child).exists(_.precision >= 29) &&
            !s.child.isInstanceOf[graft.functions.ImpalaDecimalHi] &&
            !s.child.isInstanceOf[graft.functions.ImpalaDecimalLo] =>
        val d = decOf(s.child).get
        val (hi, lo) = wrapSumLegs(ae, s.child)
        graft.functions.ImpalaV1SumFinish(hi, lo, d.scale)
      case ae @ AggregateExpression(av: Average, _, false, None, _)
          if decOf(av.child).isDefined =>
        val d = decOf(av.child).get
        if (d.precision >= 29) {
          val (hi, lo) = wrapSumLegs(ae, av.child)
          val cnt = ae.copy(aggregateFunction = Count(Seq(av.child)),
            resultId = NamedExpression.newExprId)
          graft.functions.ImpalaV1AvgFinish(hi, lo, cnt, d.scale)
        } else
          graft.functions.ImpalaV1DecimalCast(
            ae.copy(aggregateFunction = av.copy(evalMode = EvalMode.TRY)),
            38, d.scale)
    }
    // +,-,* on decimals never raise under V1 — TRY-null on overflow
    val arithPf: PartialFunction[Expression, Expression] = {
      case m: Multiply if m.resolved && m.evalMode == EvalMode.ANSI &&
          m.dataType.isInstanceOf[DecimalType] =>
        m.copy(evalContext = m.evalContext.copy(evalMode = EvalMode.TRY))
      case a: Add if a.resolved && a.evalMode == EvalMode.ANSI &&
          a.dataType.isInstanceOf[DecimalType] =>
        a.copy(evalContext = a.evalContext.copy(evalMode = EvalMode.TRY))
      case s: Subtract if s.resolved && s.evalMode == EvalMode.ANSI &&
          s.dataType.isInstanceOf[DecimalType] =>
        s.copy(evalContext = s.evalContext.copy(evalMode = EvalMode.TRY))
    }
    // windowed V1 avg: the input-typed truncating presentation wraps
    // OUTSIDE the OVER (the WindowExpression stays the window
    // function — same hoist shape as the V2 scale-6 rewrite)
    val windowPf: PartialFunction[Expression, Expression] = {
      case we @ WindowExpression(
          ae @ AggregateExpression(av: Average, _, false, None, _), _)
          if decOf(av.child).isDefined =>
        val d = decOf(av.child).get
        graft.functions.ImpalaV1DecimalCast(
          we.copy(windowFunction = ae.copy(aggregateFunction =
            av.copy(evalMode = EvalMode.TRY))), 38, d.scale)
    }
    plan.transformUpWithSubqueries {
      case a: Aggregate if a.resolved =>
        val newAggs = a.aggregateExpressions.map(
          _.transformUp(aggPf.orElse(arithPf))
            .asInstanceOf[NamedExpression])
        if (newAggs == a.aggregateExpressions) a
        else a.copy(aggregateExpressions = newAggs)
      case w: Window if w.resolved =>
        w.transformExpressionsUp(windowPf.orElse(arithPf))
      case p => p.transformExpressionsUp(arithPf)
    }
  }

  /** Query options that reject a statement before it runs: a
    * MEM_LIMIT below the buffer-reservation floor and a DEBUG_ACTION
    * FAIL. A driver-side walk of the analyzed plan.
    */
  private def checkMemLimitAndDebugAction(spark: SparkSession,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Unit = {
    // DEBUG_ACTION failure injection (debug-util.cc DebugActionImpl —
    // joins.test's IMPALA-9309 probe). The spec is a '|'-separated list
    // of `label:CMD[@arg…]` / `node_id:phase:CMD[@arg…]` actions; only
    // a FAIL command whose probability is 1.0 (the default) injects —
    // WAIT/DELAY/JITTER/SET_DENY_RESERVATION_PROBABILITY and
    // sub-certain FAIL@p are no-ops here (the exec points are
    // fabricated; the deterministic injected failure is the contract).
    // Node-scoped FAILs (numeric id ≥ 0 names a plan node) only fire
    // on statements that actually plan a scan.
    // fixture tables are LocalRelation-backed here, so any leaf but
    // the constant-select OneRowRelation counts as a planned scan
    val hasScan = analyzed.collectLeaves().exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => false
      case _ => true
    }
    // MEM_LIMIT reservation floor (admission control's min-reservation
    // check — set.test's `set mem_limit=1` probe): any plan that scans
    // needs a few MB of buffer reservation, so a limit below the 8MB
    // floor modeled here is rejected before execution with the
    // reference's wording. Real workload limits (≥tens of MB) pass.
    spark.conf.getOption("graft.opt.MEM_LIMIT").foreach { ml =>
      val bytesRe = """(?i)^\s*"?(\d+(?:\.\d+)?)\s*([kmg]b?)?"?\s*;?\s*$""".r
      val bytes = bytesRe.findFirstMatchIn(ml).map { m0 =>
        val n = m0.group(1).toDouble
        (Option(m0.group(2)).map(_.toLowerCase.head) match {
          case Some('k') => n * (1L << 10)
          case Some('m') => n * (1L << 20)
          case Some('g') => n * (1L << 30)
          case _ => n
        }).toLong
      }
      if (hasScan && bytes.exists(b => b > 0 && b < (8L << 20)))
        throw new RuntimeException(
          "Rejected query from pool default-pool: minimum memory " +
            "reservation is greater than memory available to the " +
            "query for buffer reservations. Memory reservation needed " +
            "given the current plan: 4.00 MB. Adjust the mem_limit " +
            "option for the query to allow the query memory limit to " +
            "be at least 12.00 MB.")
    }
    spark.conf.getOption("graft.opt.DEBUG_ACTION").foreach { da =>
      da.split('|').map(_.trim).filter(_.nonEmpty).foreach { action =>
        val parts = action.split(':')
        val cmdPart = parts.last.trim
        val cmdArgs = cmdPart.split('@')
        val cmd = cmdArgs.head.trim.toUpperCase
        val prob = if (cmdArgs.length > 1)
          scala.util.Try(cmdArgs(1).trim.toDouble).getOrElse(1.0)
        else 1.0
        val nodeScoped = parts.length >= 3 &&
          scala.util.Try(parts.head.trim.toInt).toOption.exists(_ >= 0)
        if (cmd == "FAIL" && prob >= 1.0 && (!nodeScoped || hasScan))
          throw new RuntimeException("Debug Action: FAIL")
      }
    }
  }

  private val explainRe = """(?is)^\s*explain\s+(select\b.*|with\b.*|values\b.*)$""".r

  def sql(spark: SparkSession, text: String): DataFrame = {
    GraftSession.tune(spark)
    ImpalaMeta.intercept(spark, text) match {
      case Some(df) => return df
      case None =>
    }
    ImpalaOptions.intercept(spark, text) match {
      case Some(df) => return df
      case None =>
    }
    text match {
      case explainRe(body) =>
        return plans.ImpalaExplain.explainSql(spark, body, sql)
      case _ =>
    }
    validateDateLiterals(text)
    validateImpalaGrammar(text)
    val parsed = preAnalysisFix(org.apache.spark.sql.graft.Bridge.parsePlan(
      spark, rewrite(NestedRefs.rewrite(spark, text))))
    def finish(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : DataFrame = {
      val df = org.apache.spark.sql.graft.Bridge.ofRows(spark, plan)
      val analyzed = df.queryExecution.analyzed
      checkMemLimitAndDebugAction(spark, analyzed)
      val fixed0 = analyzed.transformUpWithSubqueries {
        case p => p.transformExpressionsUp(impalaExpr)
      }
      val fixed1 = emptyGroupingSetRow(decimalOverflowGuards(fixed0))
      // OPTIMIZE_PARTITION_KEY_SCANS: answer partition-key-only
      // aggregates from the stats registry's partition listing —
      // zero file-scan tasks (IMPALA-1795; see PartitionKeyScans)
      val fixed =
        if (plans.PartitionKeyScans.enabled(spark))
          plans.PartitionKeyScans.rewrite(spark, fixed1)
        else fixed1
      if (fixed eq analyzed) df
      else org.apache.spark.sql.graft.Bridge.ofRows(spark, fixed)
    }
    try finish(parsed)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        semanticRecover(spark, parsed) match {
          case Some(p) => finish(p)
          case None => throw rewordAnalysis(e)
        }
    }
  }

  /** Map Spark analysis errors whose Impala wording the goldens pin
    * onto the reference's client-visible text. */
  private def rewordAnalysis(e: org.apache.spark.sql.AnalysisException)
      : Throwable = e.getCondition match {
    // date_part/extract with an unknown field: Impala folds the
    // constant at analysis and wraps the backend's message
    // (`Invalid Date Part Field: <f>` — hdfs-partitions.test)
    case "INVALID_EXTRACT_FIELD" =>
      val field = """`([^`]*)`""".r.findFirstMatchIn(
        Option(e.getMessage).getOrElse("")).map(_.group(1)).getOrElse("?")
      new IllegalStateException(
        "AnalysisException: Error evaluating expression CAUSED BY: " +
          s"InternalException: Invalid Date Part Field: $field")
    // unknown table: Impala's analyzer wording (Analyzer.java
    // TBL_DOES_NOT_EXIST_ERROR_MSG — iceberg-alter.test's post-RENAME
    // probe pins it)
    case "TABLE_OR_VIEW_NOT_FOUND" =>
      val name = """`([^`]+)`(?:\.`([^`]+)`)*""".r.findFirstIn(
        Option(e.getMessage).getOrElse(""))
        .map(_.replace("`", "")).getOrElse("?")
      new IllegalStateException(
        s"AnalysisException: Could not resolve table reference: '$name'")
    case _ => e
  }

  /** Impala-permissive semantics Spark's analyzer rejects, applied only
    * when plain analysis fails (so the green path's plans are
    * untouched): avg(TIMESTAMP) (aggregate-functions-ir.cc
    * TimestampAvg), BOOLEAN↔numeric comparison/IN coercion (Impala
    * promotes BOOLEAN to TINYINT — FunctionCallExpr implicit casts),
    * and grouping()/grouping_id() in a non-grouping-sets GROUP BY
    * (constant 0 in the reference). The parsed plan is analyzed WITHOUT
    * checkAnalysis, the coercions applied, and the result re-analyzed
    * normally — returns None (rethrow the original error) when nothing
    * applies or analysis itself fails.
    */
  private def semanticRecover(spark: SparkSession,
      parsed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, In,
      ListQuery, Round, UnixMicros}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Average}
    import org.apache.spark.sql.types.{BooleanType, ByteType, DoubleType,
      LongType, NumericType, TimestampType}
    scala.util.Try {
      val analyzed = org.apache.spark.sql.graft.Bridge
        .analyzeNoCheck(spark, parsed)
      def boolNum(l: Expression, r: Expression): Boolean =
        l.resolved && r.resolved && l.dataType == BooleanType &&
          r.dataType.isInstanceOf[NumericType]
      val pf: PartialFunction[Expression, Expression] = {
        case ae @ AggregateExpression(
              avg @ Average(Cast(c, DoubleType, _, _), _), _, _, _, _)
            if c.resolved && c.dataType == TimestampType =>
          // avg(TIMESTAMP): Spark implicit-casts to double seconds; the
          // reference's TimestampAvg renders the mean back as a
          // timestamp (aggregate-functions-ir.cc)
          MicrosToTimestamp(Cast(Round(
            ae.copy(aggregateFunction =
              avg.copy(child = Cast(UnixMicros(c), DoubleType))),
            Literal(0)), LongType))
        case cmp: BinaryComparison if boolNum(cmp.left, cmp.right) =>
          cmp.withNewChildren(Seq(Cast(cmp.left, ByteType), cmp.right))
        case cmp: BinaryComparison if boolNum(cmp.right, cmp.left) =>
          cmp.withNewChildren(Seq(cmp.left, Cast(cmp.right, ByteType)))
        case in @ In(v, list)
            if !list.exists(_.isInstanceOf[ListQuery]) &&
              (v +: list).forall(e => e.resolved &&
                (e.dataType == BooleanType ||
                  e.dataType.isInstanceOf[NumericType])) &&
              (v +: list).exists(_.dataType == BooleanType) &&
              (v +: list).exists(_.dataType != BooleanType) =>
          val fix = (e: Expression) =>
            if (e.dataType == BooleanType) Cast(e, ByteType) else e
          In(fix(v), list.map(fix))
      }
      val step1 = analyzed.transformUpWithSubqueries {
        case p => p.transformExpressionsUp(pf)
      }
      // Impala permits nondeterministic expressions as aggregate
      // arguments (count(distinct rand()) — random.test; FE treats
      // them like any scalar expr). Spark's CheckAnalysis rejects
      // them, so pull each one into a Project below the Aggregate and
      // aggregate over the resulting attribute — the per-row draw
      // semantics are identical.
      import org.apache.spark.sql.catalyst.expressions.{Alias,
        NamedExpression}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{
        AggregateFunction}
      import org.apache.spark.sql.catalyst.plans.logical.{
        Aggregate => LAggregate, Project => LProject}
      val step2 = step1.transformUpWithSubqueries {
        case a: LAggregate if a.resolved &&
            a.aggregateExpressions.exists(_.exists {
              case af: AggregateExpression =>
                af.aggregateFunction.children.exists(c =>
                  !c.deterministic)
              case _ => false
            }) =>
          val pulled = scala.collection.mutable.LinkedHashMap
            .empty[Expression, Alias]
          val newAggs = a.aggregateExpressions.map(_.transformUp {
            case af: AggregateExpression
                if af.aggregateFunction.children.exists(c =>
                  !c.deterministic) =>
              af.copy(aggregateFunction =
                af.aggregateFunction.mapChildren {
                  case c if !c.deterministic && c.resolved =>
                    pulled.getOrElseUpdate(c.canonicalized,
                      Alias(c, s"__gf_nd_${pulled.size}")()).toAttribute
                  case c => c
                }.asInstanceOf[AggregateFunction])
          }.asInstanceOf[NamedExpression])
          if (pulled.isEmpty) a
          else a.copy(aggregateExpressions = newAggs,
            child = LProject(
              (a.child.output ++ pulled.values).toIndexedSeq, a.child))
      }
      if (step2 eq analyzed) None else Some(step2)
    }.toOption.flatten
  }

  /** Execute an Impala-dialect DML/DDL statement (INSERT … SELECT/VALUES,
    * CTAS) with the same text rewrites and expression semantics as
    * [[sql]], but command-safe: [[sql]]'s `ofRows` executes a command
    * eagerly BEFORE the post-analysis expression pass, so a transformed
    * INSERT would run twice. Here the plan is analyzed without
    * execution, [[impalaExpr]] applied, then executed exactly once —
    * e.g. insert.test's `VALUES (CAST(1/0 AS FLOAT))` stores inf the
    * way the reference's C++ fdiv does, not an ANSI error.
    */
  def exec(spark: SparkSession, text: String): Unit = {
    GraftSession.tune(spark)
    val bridge = org.apache.spark.sql.graft.Bridge
    val analyzed = bridge.analyzeOnly(spark, preAnalysisFix(
      bridge.parsePlan(spark, rewrite(NestedRefs.rewrite(spark, text)))))
    val fixed0 = decimalOverflowGuards(analyzed.transformUpWithSubqueries {
      case p => p.transformExpressionsUp(impalaExpr)
    })
    // PARQUET_TIMESTAMP_TYPE=INT64_MILLIS: written timestamps truncate
    // to millisecond precision (parquet-column-writers.cc int64
    // encoders; INT64_MICROS is the engine's native precision)
    val fixed =
      if (!spark.conf.getOption("graft.opt.PARQUET_TIMESTAMP_TYPE")
          .exists(_.equalsIgnoreCase("INT64_MILLIS"))) fixed0
      else fixed0.transformUp {
        case c: org.apache.spark.sql.execution.command
            .CreateDataSourceTableAsSelectCommand =>
          c.copy(query = roundTsToMillis(c.query))
        case i: org.apache.spark.sql.execution.datasources
            .InsertIntoHadoopFsRelationCommand =>
          i.copy(query = roundTsToMillis(i.query))
      }
    bridge.ofRows(spark, fixed).collect()
  }

  /** Project every TIMESTAMP output onto its ms truncation —
    * `UnixMillis` is Spark's floorDiv µs→ms, exact over the full
    * range (no double round-trip).
    */
  private def roundTsToMillis(
      q: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val projs = q.output.map { a =>
      if (a.dataType == TimestampType)
        Alias(MillisToTimestamp(UnixMillis(a)), a.name)(): NamedExpression
      else a
    }
    org.apache.spark.sql.catalyst.plans.logical.Project(projs, q)
  }
}
