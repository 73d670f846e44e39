package graft

import java.nio.file.{Files, Path}

/** Parser for the reference's golden `.test` workload files
  * (`testdata/workloads/...`, format per
  * `tests/common/impala_test_suite.py`): `====`-delimited sections,
  * each with a `---- QUERY[: name]` block of Impala SQL and further
  * `---- <SECTION>` blocks (RESULTS, TYPES, CATCH, LABELS, …).
  *
  * FunctionalGoldenSpec executes the QUERY text VERBATIM through
  * [[ImpalaDialect.sql]] over the deterministic alltypes tables
  * (graft.sources.FunctionalTables) and checks it DIRECTLY against its
  * `---- RESULTS` rows ([[GoldenResult]]); LineageSpec reads
  * `lineage.test` with it.
  */
object GoldenTest {

  /** One QUERY section of a `.test` file. */
  final case class Case(
      name: String,
      query: String,
      types: Seq[String],
      goldenRows: Int,
      results: Seq[String] = Nil,
      resultsTag: String = "",
      sections: Map[String, Seq[String]] = Map.empty)

  private val sectionRe = """^----\s*([A-Z_]+)\s*(.*)$""".r

  /** Parse the `.test` format. Comment lines (`#`) inside the QUERY
    * block are dropped; all `---- SECTION` blocks are captured.
    */
  def parse(text: String): Seq[Case] = {
    text.split("(?m)^====\\s*$").toSeq.flatMap { section =>
      val lines = section.linesIterator.toSeq
      var cur: String = null
      var curArg = ""
      val order = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val blocks = scala.collection.mutable.Map.empty[String, Vector[String]]
      lines.foreach {
        case sectionRe(name, arg) =>
          cur = name; curArg = arg.stripPrefix(":").trim
          order += ((name, curArg))
          // the reference parser stores subsections in a dict
          // (`test_file_parser.py parsed_sections[name] = str`), so a
          // DUPLICATE section header inside one ==== block OVERWRITES
          // the earlier one — several files rely on this by omitting
          // the ==== (only the last QUERY of such a block ever ran in
          // the reference's CI; the dead earlier text was never
          // validated and can be wrong, e.g. intersect.test's
          // copy-pasted id/some_nulls golden)
          blocks(cur) = Vector.empty
        case l if cur != null =>
          blocks(cur) = blocks(cur) :+ l
        case _ =>
      }
      // HIVE_QUERY-only sections are the reference's Hive-side setup
      // (run via beeline by its runner — acid.test family); surface
      // them as cases so a harness can replay their state effects
      if (!blocks.contains("QUERY") && !blocks.contains("HIVE_QUERY")) None
      else {
        val qKey = if (blocks.contains("QUERY")) "QUERY" else "HIVE_QUERY"
        val queryArg = order.reverse.collectFirst {
          case (`qKey`, a) => a }.getOrElse("")
        val query = blocks(qKey)
          .filterNot(_.trim.startsWith("#")).mkString("\n").trim
        // '#' comment lines are stripped from every section by the
        // reference's file parser (test_file_parser.py remove_comments)
        val results = blocks.getOrElse("RESULTS", Vector.empty)
          .filter(_.trim.nonEmpty)
          .filterNot(_.trim.startsWith("#"))
        val resultsTag =
          order.reverse.collectFirst { case ("RESULTS", a) => a }.getOrElse("")
        val types = blocks.getOrElse("TYPES", Vector.empty)
          .headOption.map(_.split(",").toSeq
            .map(_.trim.toLowerCase).filter(_.nonEmpty))
          .getOrElse(Nil)
        if (query.isEmpty) None
        else Some(Case(queryArg, query, types, results.size, results,
          resultsTag, blocks.toMap.map { case (k, v) => k -> v.toSeq }))
      }
    }
  }

  def load(path: Path): Seq[Case] =
    parse(new String(Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8))
}

/** Golden `---- RESULTS` comparator mirroring
  * `tests/common/test_result_verifier.py`: rows tokenize on commas
  * outside single quotes ('' escapes a quote); float/double columns
  * compare with ABSOLUTE epsilon 1e-4 / 1e-9; booleans
  * case-insensitively; everything else as exact strings with string
  * values single-quoted; NULL is the bare token NULL. Multisets unless
  * the query carries a top-level ORDER BY.
  */
object GoldenResult {

  /** Tokenize one golden row (quotes kept, as in the reference). */
  def tokenize(row: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < row.length) {
      val c = row.charAt(i)
      if (!inQ && c == ',') { out += cur.toString; cur.clear() }
      else {
        cur.append(c)
        if (c == '\'') {
          if (inQ && i + 1 < row.length && row.charAt(i + 1) == '\'') i += 1
          else inQ = !inQ
        }
      }
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** Render one Spark value in the verifier's format for its golden
    * type token.
    */
  def render(v: Any, tpe: String): String = v match {
    // the reference framework stringifies a NULL before quoting string
    // columns, so string-typed NULLs appear quoted in goldens
    case null if tpe == "string" || tpe == "char" || tpe == "varchar" => "'NULL'"
    case null => "NULL"
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      val ldt = t.toLocalDateTime
      val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
        f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:" +
        f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      if (ldt.getNano == 0) base else base + f".${ldt.getNano}%09d"
    case ldt: java.time.LocalDateTime =>
      render(java.sql.Timestamp.valueOf(ldt), tpe)
    case s: String if tpe == "string" || tpe == "char" || tpe == "varchar" =>
      // the reference's goldens pass string cells through Python
      // unicode_escape (test_result_verifier.py parse_result_rows):
      // backslash → \\, newline → \n, tab → \t, other non-printables
      // → \xNN; inner quotes are NOT doubled on our side (tokenize
      // collapses the golden's '' to ')
      val esc = s.flatMap {
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case '\r' => "\\r"
        case c if c < 0x20 => f"\\x${c.toInt}%02x"
        // unicode_escape also hex-escapes DEL and the 0x80-0xFF range
        // (delimited-latin-text.test's thorn/e-circumflex bytes)
        case c if c >= 0x7f && c <= 0xff => f"\\x${c.toInt}%02x"
        case c => c.toString
      }
      "'" + esc + "'"
    // DATE values print unquoted; a date under a STRING type token
    // (Impala's to_date returns STRING) prints quoted like any string
    case d: java.sql.Date =>
      if (tpe == "string") "'" + d.toString + "'" else d.toString
    case d: java.time.LocalDate =>
      if (tpe == "string") "'" + d.toString + "'" else d.toString
    case f: Float => f.toDouble.toString
    case other => other.toString
  }

  /** Parse a float token leniently: the reference serializes NaN in
    * several spellings ("NaN", "Nan", "nan", "-nan" — C++ ostream vs
    * lexical_cast paths).
    */
  private def num(s: String): Option[Double] =
    if (s.equalsIgnoreCase("nan") || s.equalsIgnoreCase("-nan"))
      Some(Double.NaN)
    else if (s.equalsIgnoreCase("inf") || s.equalsIgnoreCase("infinity"))
      Some(Double.PositiveInfinity)
    else if (s.equalsIgnoreCase("-inf") || s.equalsIgnoreCase("-infinity"))
      Some(Double.NegativeInfinity)
    else s.toDoubleOption

  private def eqCol(exp: String, act: String, tpe: String): Boolean = {
    // a `regex:<pattern>` cell matches by pattern (the verifier's
    // per-column escape hatch — LOCATION paths, file-size cells)
    if (exp.startsWith("regex:"))
      return java.util.regex.Pattern
        .compile(escapeRunnerVars(exp.stripPrefix("regex:").trim))
        .matcher(act.stripPrefix("'").stripSuffix("'")).matches()
    if (exp == "NULL" || act == "NULL") return exp == act
    tpe match {
      case "float" =>
        (num(exp), num(act)) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= 1e-4 ||
            (a.isNaN && b.isNaN) || a == b
          case _ => false
        }
      case "double" | "decimal" =>
        (num(exp), num(act)) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 ||
            (a.isNaN && b.isNaN) || a == b
          case _ => false
        }
      case "boolean" => exp.equalsIgnoreCase(act)
      case _ => exp == act
    }
  }

  private def eqRow(exp: Seq[String], act: Seq[String],
      types: Seq[String]): Boolean =
    exp.length == act.length &&
      exp.indices.forall(i => eqCol(exp(i), act(i),
        types.lift(i).getOrElse("string")))

  /** A golden `row_regex:<pattern>` line matches a whole actual row
    * (cells joined by ',') — `test_result_verifier.py`'s row_regex
    * escape hatch for environment-dependent lines (EXPLAIN estimates,
    * file sizes).
    */
  private def rowRegexOf(line: String): Option[java.util.regex.Pattern] = {
    val t = line.trim
    if (!t.startsWith("row_regex:")) None
    else Some(java.util.regex.Pattern.compile(
      escapeRunnerVars(t.stripPrefix("row_regex:").trim),
      // DOTALL: a multi-line string cell (ds_*_stringify summaries) is
      // one row; the goldens' .* spans its embedded newlines
      java.util.regex.Pattern.DOTALL))
  }

  /** The reference runner substitutes `$DATABASE`/`$NAMENODE`-style
    * variables into golden regex patterns before comparing; here the
    * actual output carries those spellings literally, so escape the
    * `$` (a bare `$` before an uppercase word is always a runner var,
    * never an end anchor).
    */
  private def escapeRunnerVars(p: String): String =
    p.replaceAll("\\$(?=[A-Z])", "\\\\\\$")

  /** Compare rendered actual rows against golden lines; None on match,
    * Some(message) on the first difference. `ordered` = positional;
    * otherwise greedy multiset matching (mirrors the verifier's
    * VERIFY_IS_EQUAL_SORTED path — approximate columns make exact
    * set-hashing impossible). `subset` = every golden row must appear
    * among the actual rows, extra actual rows allowed
    * (VERIFY_IS_SUBSET). Golden `row_regex:` lines match by pattern.
    */
  def compare(goldenLines: Seq[String], actualRows: Seq[Seq[String]],
      types: Seq[String], ordered: Boolean,
      subset: Boolean = false, notIn: Boolean = false): Option[String] = {
    def hits(line: String, act: Seq[String]): Boolean =
      rowRegexOf(line) match {
        case Some(p) => p.matcher(act.mkString(",")).find()
        case None => eqRow(tokenize(line), act, types)
      }
    if (notIn) {
      // VERIFY_IS_NOT_IN: none of the golden rows may appear
      goldenLines.foreach { e =>
        if (actualRows.exists(a => hits(e, a)))
          return Some(s"forbidden row present (not-in): [$e]")
      }
      return None
    }
    if (subset) {
      val remaining = scala.collection.mutable.ArrayBuffer(actualRows: _*)
      goldenLines.foreach { e =>
        val hit = remaining.indexWhere(a => hits(e, a))
        if (hit < 0)
          return Some(s"golden row not found (subset): [$e]; " +
            s"sample actual: [${remaining.headOption.map(_.mkString(",")).getOrElse("-")}]")
        remaining.remove(hit)
      }
      return None
    }
    if (goldenLines.length != actualRows.length)
      return Some(s"row count: golden ${goldenLines.length} vs actual ${actualRows.length}")
    if (ordered) {
      goldenLines.indices.foreach { i =>
        if (!hits(goldenLines(i), actualRows(i)))
          return Some(s"row $i: golden [${goldenLines(i)}] vs " +
            s"actual [${actualRows(i).mkString(",")}]")
      }
      None
    } else {
      val remaining = scala.collection.mutable.ArrayBuffer(actualRows: _*)
      goldenLines.foreach { e =>
        val hit = remaining.indexWhere(a => hits(e, a))
        if (hit < 0)
          return Some(s"golden row not found: [$e]; " +
            s"sample actual: [${remaining.headOption.map(_.mkString(",")).getOrElse("-")}]")
        remaining.remove(hit)
      }
      None
    }
  }
}
