package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Impala's catalog-observability output shapes (DESCRIBE / SHOW),
  * computed from the session catalog.
  *
  * The reference builds these result sets in the frontend —
  * `fe/src/main/java/org/apache/impala/service/DescribeResultFactory.java`
  * (three columns name/type/comment, one row per column or per nested
  * field) with the type text from the catalog type's `toSql()`
  * (`fe/src/main/java/org/apache/impala/catalog/StructType.java`
  * prettyPrint: struct fields one per line, two-space indent per
  * nesting level; array/map render inline around their element). The
  * DESCRIBE-a-path form resolves the dotted path into the nested type
  * first (`fe/src/main/java/org/apache/impala/analysis/Path.java`):
  * describing an ARRAY yields item/pos rows, a MAP key/value rows, a
  * STRUCT its fields.
  *
  * Spark-first mapping: the rows come from `spark.table(name).schema`
  * — a driver-side metadata walk, no job runs.
  */
object ImpalaMeta {

  private val describeRe =
    """(?is)^\s*describe\s+(`?[A-Za-z_]\w*`?(?:\.`?[A-Za-z_]\w*`?)*)\s*;?\s*$""".r
  private val showTablesRe =
    ("""(?is)^\s*show\s+tables(\s+in\s+[$\w]+)?""" +
      """(?:\s+(?:like\s+)?["']([^"']*)["'])?\s*;?\s*$""").r
  private val showDatabasesRe =
    ("""(?is)^\s*show\s+(?:databases|schemas)""" +
      """(?:\s+(?:like\s+)?["']([^"']*)["'])?\s*;?\s*$""").r
  private val showTableStatsRe =
    """(?is)^\s*show\s+(?:table\s+stats|partitions)\s+((?:`[^`]+`|[$\w.])+)\s*;?\s*$""".r
  private val showColumnStatsRe =
    """(?is)^\s*show\s+column\s+stats\s+((?:`[^`]+`|[$\w.])+)\s*;?\s*$""".r
  private val showFilesRe =
    ("""(?is)^\s*show\s+files\s+in\s+((?:`[^`]+`|[$\w.])+)""" +
      """(?:\s+partition\s*\((.*)\))?\s*;?\s*$""").r
  private val describeDbRe =
    ("""(?is)^\s*describe\s+database\s+((?:extended|formatted)\s+)?""" +
      """([A-Za-z_]\w*)\s*;?\s*$""").r
  private val describeHistoryRe =
    ("""(?is)^\s*describe\s+history\s+""" +
      """((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*;?\s*$""").r

  /** External data sources (`CREATE DATA SOURCE` —
    * `fe/.../analysis/CreateDataSrcStmt.java`; SHOW DATA SOURCES shape
    * per `fe/.../service/Frontend.java` getDataSrcMetadata:
    * NAME, LOCATION, CLASS NAME, API VERSION).
    */
  final case class DataSrc(location: String, className: String,
      apiVersion: String)
  val dataSourceRegistry =
    scala.collection.mutable.LinkedHashMap.empty[String, DataSrc]
  private val createDataSrcRe =
    ("""(?is)^\s*create\s+data\s+source\s+(?:if\s+not\s+exists\s+)?""" +
      """(\w+)\s+location\s+'([^']*)'\s+class\s+'([^']*)'\s+""" +
      """api_version\s+'([^']*)'\s*;?\s*$""").r
  private val dropDataSrcRe =
    """(?is)^\s*drop\s+data\s+source\s+(?:if\s+exists\s+)?(\w+)\s*;?\s*$""".r
  private val showDataSrcRe =
    """(?is)^\s*show\s+data\s+sources(?:\s+like\s+'([^']*)')?\s*;?\s*$""".r

  private def strDf(spark: SparkSession, cols: Seq[String],
      rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => Row(r: _*))).asJava),
      StructType(cols.map(c => StructField(c, StringType))))

  /** DESCRIBE DATABASE default, with the locations spelled as the
    * reference's runner variables ($NAMENODE/$EXTERNAL_WAREHOUSE_DIR).
    * Any other database goes to Spark's own DESCRIBE DATABASE.
    */
  private def describeDefaultDb(spark: SparkSession,
      extended: Boolean): DataFrame = {
    val rows = Seq(
      Seq("default", "$NAMENODE/$EXTERNAL_WAREHOUSE_DIR", "Default Hive database"),
      Seq("managedlocation:", "$NAMENODE/$MANAGED_WAREHOUSE_DIR", "")) ++
      (if (extended) Seq(Seq("Owner: ", "", ""), Seq("", "$USER", "USER"))
      else Nil)
    strDf(spark, Seq("name", "location", "comment"), rows)
  }

  private def statsName(raw: String): String =
    raw.split('.').map(_.stripPrefix("`").stripSuffix("`"))
      .mkString(".").toLowerCase

  /** Intercept the catalog-observability statements this formatter
    * models (plain DESCRIBE, SHOW TABLES/DATABASES). None → not one of
    * them, caller proceeds with normal parsing.
    */
  private val useDbStmtRe = """(?is)^\s*use\s+([A-Za-z_]\w*)\s*;?\s*$""".r

  def intercept(spark: SparkSession, text: String): Option[DataFrame] =
    text match {
      // USE <db>: session default-database switch — the single
      // namespace resolves bare names everywhere, so the statement is
      // a no-op that answers an empty result set (UseStmt)
      case useDbStmtRe(_) =>
        Some(spark.emptyDataFrame)
      case createDataSrcRe(name, loc, cls, api) =>
        dataSourceRegistry(name.toLowerCase) = DataSrc(loc, cls, api)
        Some(strDf(spark, Seq("summary"),
          Seq(Seq("Data source has been created."))))
      case dropDataSrcRe(name) =>
        dataSourceRegistry.remove(name.toLowerCase)
        Some(strDf(spark, Seq("summary"),
          Seq(Seq("Data source has been dropped."))))
      case showDataSrcRe(pattern) =>
        val rows = dataSourceRegistry.toSeq
          .filter(d => matchesPattern(d._1, Option(pattern)))
          .sortBy(_._1)
          .map { case (n, d) =>
            Seq(n, d.location, d.className, d.apiVersion)
          }
        Some(strDf(spark,
          Seq("name", "location", "class name", "api version"), rows))
      case showTableStatsRe(raw) =>
        val n = statsName(raw)
        ImpalaStats.showTableStats(spark, n).orElse(
          ImpalaStats.showTableStats(spark, n.split('.').last))
      case showColumnStatsRe(raw) =>
        val n = statsName(raw)
        ImpalaStats.showColumnStats(spark, n).orElse(
          ImpalaStats.showColumnStats(spark, n.split('.').last))
      case showFilesRe(raw, spec) =>
        val n = statsName(raw).split('.').last
        ImpalaStats.showFiles(spark, n, Option(spec))
      case describeHistoryRe(name) =>
        // DESCRIBE HISTORY is Iceberg-only (DescribeHistoryStmt)
        throw new IllegalStateException(
          s"DESCRIBE HISTORY must specify an Iceberg table: $name")
      case describeDbRe(ext, db) if db.equalsIgnoreCase("default") =>
        Some(describeDefaultDb(spark, ext != null))
      case showTablesRe(inDb, pattern) if inDb != null =>
        // a db-qualified listing answers for a real catalog db; anything
        // else falls through to normal parsing so the NOT_FOUND error
        // surfaces instead of a misreported every-temp-view listing
        val db = inDb.trim.split("\\s+").last.toLowerCase
        if (scala.util.Try(spark.catalog.databaseExists(db)).getOrElse(false))
          Some(oneCol(spark, "name",
            spark.catalog.listTables(db).collect()
              .filter(!_.isTemporary).map(_.name.toLowerCase)
              .distinct.sorted.toSeq
              .filter(matchesPattern(_, Option(pattern)))))
        else None
      case showTablesRe(_, pattern) =>
        val names = spark.catalog.listTables().collect()
          .map(_.name.toLowerCase).distinct.toSeq
        Some(oneCol(spark, "name", names.sorted
          .filter(matchesPattern(_, Option(pattern)))))
      case showDatabasesRe(pattern) =>
        val dbs = spark.catalog.listDatabases().collect().toSeq
          .map(d => d.name.toLowerCase ->
            (if (d.name.equalsIgnoreCase("default"))
              "Default Hive database"
            else Option(d.description).getOrElse("")))
          .sortBy(_._1)
        val hit = dbs.filter(d => matchesPattern(d._1, Option(pattern)))
        Some(strDf(spark, Seq("name", "comment"),
          hit.map { case (n, c) => Seq(n, c) }))
      case _ => describe(spark, text)
    }

  private def oneCol(spark: SparkSession, name: String,
      vals: Seq[String]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          vals.map(Row(_))).asJava),
      StructType(Seq(StructField(name, StringType))))

  /** Impala SHOW pattern: ONLY `*` (any sequence) and `|` (choice) are
    * meta-characters (IMPALA-3744 — `.`/`%`/`_` are literals);
    * case-insensitive. No pattern matches everything.
    */
  private def matchesPattern(name: String, pattern: Option[String]): Boolean =
    pattern match {
      case None => true
      case Some(p) =>
        p.split('|').exists { alt =>
          val rx = alt.toLowerCase.split("\\*", -1)
            .map(java.util.regex.Pattern.quote).mkString(".*")
          name.toLowerCase.matches(rx)
        }
    }

  /** Intercept a plain `DESCRIBE <path>` (no FORMATTED/EXTENDED — those
    * are Hive-metastore layouts out of this formatter's scope). None →
    * not a describe, caller proceeds with normal parsing.
    */
  def describe(spark: SparkSession, text: String): Option[DataFrame] =
    text match {
      case describeRe(path) =>
        val segs = path.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`"))
        resolve(spark, segs).map { case (table, t) =>
          val rows = rowsOf(t, table)
          val schema = StructType(Seq(
            StructField("name", StringType),
            StructField("type", StringType),
            StructField("comment", StringType)))
          spark.createDataFrame(
            new java.util.ArrayList[Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(
                rows.map(r => Row(r._1, r._2, r._3))).asJava), schema)
        }
      case _ => None
    }

  /** Table + path walk → the type DESCRIBE enumerates. None when the
    * head isn't a registered table or a step doesn't resolve (the
    * caller's normal parse path then surfaces the analysis error).
    */
  private def resolve(spark: SparkSession,
      segs: Seq[String]): Option[(String, DataType)] = {
    // prefer the db-qualified reading: `DESCRIBE db.tbl` is a table
    // named db.tbl, not table `db` + column path `tbl`
    val (table, path) =
      if (segs.length >= 2 && scala.util.Try(
          spark.catalog.tableExists(segs.take(2).mkString(".")))
          .getOrElse(false))
        (segs.take(2).mkString("."), segs.drop(2))
      else (segs.head, segs.tail)
    val root = scala.util.Try(spark.table(table).schema).toOption
      .getOrElse(return None)
    var cur: DataType = root
    path.foreach { seg =>
      cur = cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)).map(_.dataType)
            .getOrElse {
              // full-ACID tables expose the synthetic row__id struct
              // (fe/src/main/java/org/apache/impala/util/AcidUtils.java
              // getRowIdColumnType); the generator's ORC tables carry it
              if ((cur eq root) && seg.equalsIgnoreCase("row__id")) acidRowId
              else return None
            }
        case ArrayType(e, _) if seg.equalsIgnoreCase("item") => e
        case MapType(k, _, _) if seg.equalsIgnoreCase("key") => k
        case MapType(_, v, _) if seg.equalsIgnoreCase("value") => v
        case _ => return None
      }
    }
    Some((table, cur))
  }

  private val acidRowId: StructType = StructType(Seq(
    StructField("operation", IntegerType),
    StructField("originaltransaction", LongType),
    StructField("bucket", IntegerType),
    StructField("rowid", LongType),
    StructField("currenttransaction", LongType)))

  /** Column comments from the reference's schema template
    * (`testdata/datasets/functional/functional_schema_template.sql:10`
    * — `id int COMMENT 'Add a comment'` on the alltypes family).
    */
  private val comments: Map[(String, String), String] = Map(
    ("alltypes", "id") -> "Add a comment",
    ("alltypes_promoted", "id") -> "Add a comment",
    ("alltypes_deleted_rows", "id") -> "Add a comment",
    ("alltypes_date_partition", "id") -> "Add a comment")

  private def rowsOf(t: DataType,
      table: String): Seq[(String, String, String)] = t match {
    case st: StructType =>
      st.fields.toSeq.map { f =>
        val comment = f.getComment().getOrElse(
          comments.getOrElse((table.toLowerCase, f.name.toLowerCase), ""))
        // CHAR/VARCHAR travel as StringType + Spark's CharVarcharUtils
        // metadata key — surface the declared type text
        val t =
          if (f.metadata.contains("__CHAR_VARCHAR_TYPE_STRING"))
            f.metadata.getString("__CHAR_VARCHAR_TYPE_STRING").toLowerCase
          else typeSql(f.dataType, 0)
        (f.name.toLowerCase, t, comment)
      }
    case ArrayType(e, _) =>
      Seq(("item", typeSql(e, 0), ""), ("pos", "bigint", ""))
    case MapType(k, v, _) =>
      Seq(("key", typeSql(k, 0), ""), ("value", typeSql(v, 0), ""))
    case other => Seq(("", typeSql(other, 0), ""))
  }

  // ------------------------------------------------------------------
  // SHOW CREATE TABLE / VIEW — Impala's canonical DDL regeneration
  // (fe/src/main/java/org/apache/impala/common/ToSqlUtils.java
  // getCreateTableSql / ShowCreateTableStmt.java): uppercase type
  // text with lowercase struct-field names, derived text-serde
  // SERDEPROPERTIES, SORT BY with an explicit LEXICAL order, and
  // view-SQL regeneration that expands explicit column aliases into
  // an inline view (CreateViewStmt).
  // ------------------------------------------------------------------

  case class ColDef(name: String, typeTxt: String,
      comment: Option[String] = None)

  case class CreateTableModel(
      external: Boolean,
      qualified: String,
      cols: Seq[ColDef],
      constraints: Seq[String] = Nil,
      partCols: Seq[ColDef] = Nil,
      sortCols: Seq[String] = Nil,
      sortOrder: String = "LEXICAL",
      comment: Option[String] = None,
      // (field delim, escape, line) — DDL-escaped text, as written
      rowFormat: Option[(String, Option[String], Option[String])] = None,
      storedAs: Option[String] = None,
      storedBy: Option[String] = None,
      serdeProps: Seq[(String, String)] = Nil,
      location: Option[String] = None,
      tblProps: Seq[(String, String)] = Nil)

  /** Impala type text for DDL: keywords upper, struct field names
    * lower, no whitespace (`ARRAY<STRUCT<f1:BIGINT,f2:STRING>>`).
    */
  def upperTypeSql(t: DataType): String = t match {
    case st: StructType =>
      st.fields.map(f => s"${f.name.toLowerCase}:${upperTypeSql(f.dataType)}")
        .mkString("STRUCT<", ",", ">")
    case ArrayType(e, _) => s"ARRAY<${upperTypeSql(e)}>"
    case MapType(k, v, _) => s"MAP<${upperTypeSql(k)},${upperTypeSql(v)}>"
    case other => typeSql(other, 0).toUpperCase
  }

  def renderCreateTable(m: CreateTableModel): String = {
    val sb = new StringBuilder
    sb.append("CREATE ")
    if (m.external) sb.append("EXTERNAL ")
    sb.append(s"TABLE ${m.qualified} (\n")
    val colLines = m.cols.map { c =>
      s"  ${c.name} ${c.typeTxt}" +
        c.comment.map(x => s" COMMENT '$x'").getOrElse("")
    } ++ m.constraints.map("  " + _)
    sb.append(colLines.mkString(",\n")).append("\n)\n")
    if (m.partCols.nonEmpty) {
      sb.append("PARTITIONED BY (\n")
      sb.append(m.partCols.map(c => s"  ${c.name} ${c.typeTxt}")
        .mkString(",\n")).append("\n)\n")
    }
    if (m.sortCols.nonEmpty)
      sb.append(s"SORT BY ${m.sortOrder} (${m.sortCols.mkString(", ")})\n")
    m.comment.foreach(c => sb.append(s"COMMENT '$c'\n"))
    m.rowFormat.foreach { case (f, esc, line) =>
      sb.append(s"ROW FORMAT DELIMITED FIELDS TERMINATED BY '$f'")
      esc.foreach(e => sb.append(s" ESCAPED BY '$e'"))
      line.foreach(l => sb.append(s" LINES TERMINATED BY '$l'"))
      sb.append("\n")
      // the serde mirrors the delimiters (HiveStorageDescriptor)
      val props = Seq("field.delim" -> f, "serialization.format" -> f) ++
        esc.map("escape.delim" -> _) ++ line.map("line.delim" -> _)
      sb.append(props.map { case (k, v) => s"'$k'='$v'" }
        .mkString("WITH SERDEPROPERTIES (", ", ", ")\n"))
    }
    if (m.rowFormat.isEmpty && m.serdeProps.nonEmpty && m.storedBy.isEmpty)
      sb.append(m.serdeProps.map { case (k, v) => s"'$k'='$v'" }
        .mkString("WITH SERDEPROPERTIES (", ", ", ")\n"))
    m.storedAs.foreach(f => sb.append(s"STORED AS ${f.toUpperCase}\n"))
    m.storedBy.foreach { h =>
      sb.append(s"STORED BY '$h'\n")
      if (m.serdeProps.nonEmpty)
        sb.append(m.serdeProps.map { case (k, v) => s"'$k'='$v'" }
          .mkString("WITH SERDEPROPERTIES (", ", ", ")\n"))
    }
    m.location.foreach(l => sb.append(s"LOCATION '$l'\n"))
    if (m.tblProps.nonEmpty)
      sb.append(m.tblProps.map { case (k, v) => s"'$k'='$v'" }
        .mkString("TBLPROPERTIES (", ", ", ")\n"))
    sb.toString.trim
  }

  private val sqlKeywords = Set("select", "from", "where", "group", "by",
    "having", "order", "limit", "join", "inner", "outer", "left", "right",
    "full", "cross", "on", "and", "or", "not", "in", "exists", "between",
    "like", "is", "as", "distinct", "union", "all", "case", "when", "then",
    "else", "end", "values", "with", "asc", "desc", "null", "interval")

  /** Impala's expression `toSql` normalizations visible in regenerated
    * view text: function names lowercase, ORDER BY items carry an
    * explicit ASC.
    */
  def canonicalizeViewBody(body: String): String = {
    var b = SqlText.replaceOutside(body, """\s+""".r)(_ => " ").trim.stripSuffix(";")
    b = SqlText.replaceOutside(b, """([A-Za-z_]\w*)\(""".r) { mm =>
      val w = mm.group(1)
      (if (sqlKeywords(w.toLowerCase)) w else w.toLowerCase) + "("
    }
    // Impala's toSql backtick-quotes identifiers Hive cannot lex
    // (leading underscore — HiveLexer Identifier starts with a
    // letter/digit); views-compatibility.test pins that the
    // regenerated text parses in Hive. String literals and
    // already-backticked spans stay untouched.
    b = SqlText.replaceOutside(b, """(?<![\w.])_\w*""".r)(mm => s"`${mm.matched}`")
    // ORDER BY items: explicit ASC when no direction is given; a
    // trailing NULLS FIRST/LAST rides after the direction (Impala
    // SortInfo toSql — views-compatibility's nulls-last views)
    val obRe = """(?i)\bORDER BY\b(.*?)(\bLIMIT\b.*|$)""".r
    b = SqlText.replaceOutside(b, obRe) { mm =>
      val nullsRe = """(?i)\s+nulls\s+(first|last)\s*$""".r
      val items = SqlText.split(mm.group(1)).map(_.trim).map { it0 =>
        val nulls = nullsRe.findFirstIn(it0).map(_.trim).getOrElse("")
        val it = nullsRe.replaceAllIn(it0, "")
        val directed =
          if ("""(?i)\b(asc|desc)$""".r.findFirstIn(it).isDefined) it
          else it + " ASC"
        if (nulls.isEmpty) directed else s"$directed $nulls"
      }
      "ORDER BY " + items.mkString(", ") +
        (if (mm.group(2).nonEmpty) " " + mm.group(2) else "")
    }
    b
  }

  /** Quote identifiers Impala's toSql backtick-quotes (leading '_'). */
  def quoteId(id: String): String =
    if (id.startsWith("_")) s"`$id`" else id

  /** Regenerate a view's stored SQL. With explicit column aliases the
    * reference expands into an inline view whose select items re-alias
    * the body's output columns (CreateViewStmt — `SELECT v.col alias,
    * … FROM (body) v`); alias-free views store the body as-is.
    */
  /** `selfContained = true` additionally materializes Impala's IMPLICIT
    * `_cN` inline-view column labels as explicit aliases — Impala's
    * analyzer auto-names unaliased non-column items (`SelectStmt`
    * colLabels), so its stored text resolves without them; an engine
    * without that naming rule (Spark) needs them written out. SHOW
    * CREATE VIEW keeps the reference's exact text (default false).
    */
  def expandViewSql(qualified: String, viewName: String,
      aliases: Seq[String], body: String,
      selfContained: Boolean = false): String = {
    val canon = canonicalizeViewBody(body)
    if (aliases.isEmpty) return s"CREATE VIEW $qualified AS\n$canon"
    // body select items → (rebuilt item text, output name)
    val selRe = """(?is)^SELECT\s+(.*?)\s+(FROM\s+.*)$""".r
    canon match {
      case selRe(list, rest) =>
        val items = SqlText.split(list).map(_.trim)
        val parsed = items.zipWithIndex.map { case (it, i) =>
          val aliasRe =
            """(?is)^(.*?)(?:\s+(?:AS\s+)?(`[^`]+`|[A-Za-z_]\w*))?$""".r
          it match {
            case aliasRe(expr, al)
                if al != null && !sqlKeywords(al.toLowerCase) &&
                  expr.trim.nonEmpty && !expr.trim.endsWith(".") &&
                  // `a.b` is a path, not `a` aliased `b`
                  !it.matches("""(?s)[\w.`]+""") =>
              (s"${expr.trim} ${quoteId(al)}", al)
            case _ =>
              val out =
                if (it.matches("""[\w.`]+""")) it.split('.').last
                else s"_c$i"
              val inner =
                if (selfContained && !it.matches("""[\w.`]+"""))
                  s"$it ${quoteId(out)}"
                else it
              (inner, out)
          }
        }
        val innerList = parsed.map(_._1).mkString(", ")
        val outer = aliases.zip(parsed.map(_._2)).map { case (a, b) =>
          s"${quoteId(viewName)}.${quoteId(b)} ${quoteId(a)}"
        }.mkString(", ")
        s"CREATE VIEW $qualified AS\nSELECT $outer FROM " +
          s"(SELECT $innerList $rest) ${quoteId(viewName)}"
      case _ => s"CREATE VIEW $qualified AS\n$canon"
    }
  }

  /** Impala `Type.toSql()` text. Structs print one field per line at
    * two spaces per nesting level, with the closing `>` at the parent's
    * indent; array/map wrap inline (StructType.java prettyPrint).
    */
  def typeSql(t: DataType, indent: Int): String = t match {
    case st: StructType =>
      val pad = " " * (indent + 2)
      st.fields.map(f =>
          s"$pad${f.name.toLowerCase}:${typeSql(f.dataType, indent + 2)}")
        .mkString("struct<\n", ",\n", "\n" + (" " * indent) + ">")
    case ArrayType(e, _) => s"array<${typeSql(e, indent)}>"
    case MapType(k, v, _) => s"map<${typeSql(k, indent)},${typeSql(v, indent)}>"
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case BooleanType => "boolean"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case BinaryType => "binary"
    case c: CharType => s"char(${c.length})"
    case v: VarcharType => s"varchar(${v.length})"
    case _: StringType => "string"
    case NullType => "null"
    case other => other.simpleString
  }
}
