package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Harness replay of the reference's DDL-mutation surface for the
  * golden gate (alter-table.test family) — the Hive-metastore table
  * model Impala mutates in place:
  *
  *  - per-table column list edits (ADD/DROP/CHANGE/REPLACE COLUMNS —
  *    `fe/src/main/java/org/apache/impala/analysis/AlterTable*Stmt.java`),
  *  - per-partition storage: each partition points at a DIRECTORY
  *    (HdfsPartition.java) — the files in it, not a table mapping.
  *    Two partitions may point at one directory (the data reads
  *    twice), a partition may point into ANOTHER table's directory
  *    (it then sees whatever files are there NOW), and a table-level
  *    SET LOCATION never moves existing partitions,
  *  - text-serde re-interpretation: ALTER ... SET ROW FORMAT changes
  *    how the already-written BYTES parse (IMPALA-4323), per the
  *    delimited-text scanner's rules
  *    (`be/src/exec/delimited-text-parser.inline.h` FillColumns /
  *    `be/src/exec/text-converter.inline.h` WriteSlot: a missing
  *    trailing field is NULL; a zero-length STRING field is the empty
  *    string, non-strings NULL). A partition pins its serde at
  *    creation; a table-level SET ROW FORMAT affects only future
  *    partitions (unpartitioned tables read through the live serde).
  *
  * The store models DIRECTORIES (path → file contents) separately
  * from TABLES (schema + partition → directory-path map), exactly the
  * warehouse/metastore split. Each table publishes a temp view;
  * queries/DESCRIBEs run against it. State is in-memory — the golden
  * files' tables hold a few thousand rows at most.
  */
final class GoldenDdl(spark: SparkSession) {

  private case class Serde(fieldDelim: String, lineDelim: String)

  private sealed trait Content
  /** Parquet-ish files: rows under the schema they were written with. */
  private case class Rows(df: DataFrame) extends Content
  /** Raw text-serde bytes (re-parsed with the reader's serde). */
  private case class Raw(sb: StringBuilder) extends Content
  /** A replicated warehouse dataset dir (frozen projection). */
  private case class Fixed(df: DataFrame) extends Content

  /** The "filesystem": normalized path → file contents. */
  private val dirs =
    scala.collection.mutable.LinkedHashMap.empty[String, Content]

  /** Per-directory file ledger: byte size of each FILE in the dir
    * (each INSERT statement lands one file per touched partition, like
    * a single-writer Impala insert). Sizes are the Impala text-writer
    * rendering (ImpalaTextFormat) — SHOW TABLE STATS surfaces them.
    */
  private val dirFiles =
    scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]

  /** The last human-readable DDL result message (CatalogOpExecutor
    * addSummary) — blocks whose RESULTS section is the message string
    * compare against this.
    */
  var lastMessage: Option[String] = None
  /** Message of the last statement that FAILED (Impala's error path) —
    * the CATCH-block replay reads it. */
  var lastError: Option[String] = None
  /** The session's test database ($DATABASE) when a file pins
    * drop-non-empty semantics against it. */
  var sessionDb: Option[String] = None

  /** The binary a CREATE FUNCTION names, when it is NOT one the
    * reference ships (testdata/udfs + the hive/test jars): jars load
    * via the JVM; .so must be a shipped test library; .ll the shipped
    * bitcode. Returns the offending location as written. */
  private def invalidFnBinary(stmt: String): Option[String] =
    """(?is)\blocation\s+'([^']*)'""".r.findFirstMatchIn(stmt)
      .map(_.group(1)).filterNot { loc =>
        val base = loc.split('/').last.toLowerCase
        base.endsWith(".jar") ||
          (base.endsWith(".so") && (base.startsWith("libtestud") ||
            base.startsWith("libuda") || base.startsWith("libudf"))) ||
          (base.endsWith(".ll") && base.startsWith("test-udfs"))
      }.map(loc => loc)

  /** The last INSERT's per-partition row report, in the runner's
    * `k1=v1/k2=v2/: n` rendering (Impala's insert result summary) —
    * blocks whose RESULTS section is the report compare against this.
    */
  var lastInsertReport: Seq[String] = Nil

  private final class Tbl(
      var dataSchema: StructType,
      var partSchema: StructType,
      var baseLocation: String,
      var tableSerde: Option[Serde],
      var isAvro: Boolean = false,
      var format: String = "TEXT") {
    /** LIKE-a-dataset source snapshot — RECOVER PARTITIONS target. */
    var recoverSrc: Option[DataFrame] = None
    /** ALTER ... SET FILEFORMAT AVRO on a table created WITHOUT an
      * Avro schema leaves the scan metadata stale until INVALIDATE
      * METADATA / REFRESH reloads it — scans raise the reference's
      * `Missing Avro schema in scan node` error meanwhile
      * (avro-schema-changes.test; HdfsScanNode Avro-schema check).
      */
    var staleAvroScan: Boolean = false
    /** CREATE carried an avro.schema.url/.literal TBLPROPERTIES entry
      * while the format was non-Avro — the precondition for the stale
      * scan above (a format flip without one derives the Avro schema
      * from the column defs at alter time and scans fine, the
      * date-fileformat-support partition shapes).
      */
    var avroSchemaProp: Boolean = false
    /** Display style of SHOW TABLE STATS locations: true = the test
      * database dir ($DATABASE.db/…), false = an explicit
      * test-warehouse location (external tables over datasets).
      */
    var locStyleDb: Boolean = true
    /** HBase mapping (CREATE TABLE LIKE functional_hbase.x): region
      * start keys for SHOW TABLE STATS ("" = first region). */
    var hbaseRegions: Seq[String] = Nil
    /** Per-partition file format, pinned at partition creation from
      * the table's then-current format; partition-scoped SET
      * FILEFORMAT overrides (alter-table.test formats probe).
      */
    val partFmt = scala.collection.mutable.Map
      .empty[Seq[Option[String]], String]
    // partition key (canonical value strings, None = NULL) →
    // (directory path, pinned serde); unpartitioned tables use the
    // single key Nil pointing at the table dir
    val parts = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], (String, Option[Serde])]
    def rawMode: Boolean = tableSerde.isDefined
  }

  private val tables =
    scala.collection.mutable.LinkedHashMap.empty[String, Tbl]
  private val published = scala.collection.mutable.Set.empty[String]

  def isEmpty: Boolean =
    tables.isEmpty && published.isEmpty && dirs.isEmpty

  /** Drop every published view (caller re-registers fixtures). */
  def clear(): Unit = {
    published.foreach(spark.catalog.dropTempView)
    published.clear()
    tables.clear()
    dirs.clear()
    dirFiles.clear()
    lastMessage = None
    ImpalaStats.clear()
    ImpalaMeta.dbRegistry.clear()
    ImpalaMeta.fnRegistry.clear()
    ImpalaMeta.fnDetails.clear()
    ImpalaMeta.tableMeta.clear()
  }

  /** Preload for alter-table.test: the runner creates `part_data (i
    * int)` holding the single text value 1984
    * (tests/metadata/test_ddl.py:446-451).
    */
  def preloadPartData(): Unit = {
    val t = new Tbl(StructType.fromDDL("i int"), new StructType(),
      "part_data", None)
    dirs("part_data") = Rows(spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          Seq(Row(Integer.valueOf(1984)))).asJava),
      StructType.fromDDL("i int")))
    t.parts(Nil) = ("part_data", None)
    tables("part_data") = t
    publish("part_data")
  }

  // ------------------------------------------------------------------
  // statement surface
  // ------------------------------------------------------------------

  /** One partition-spec body: tolerates one paren-nesting level so
    * expression values (`j=cast(2-1 as int)`) stay inside the group. */
  private val SPEC = """((?:[^()]|\([^()]*\))*)"""
  private val createRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s*\((.*?)\)""" +
      """(?:\s+partitioned\s+by\s*\(((?:[^()]|\([^()]*\))*)\))?""" +
      """(?:\s+sort\s+by\s+(?:zorder\s*|lexical\s*)?\([^)]*\))?""" +
      """(?:\s+row\s+format\s+delimited(.*?))?""" +
      """(?:\s+with\s+serdeproperties\s*\((?:[^()]|\([^()]*\))*\)\s*)?""" +
      """(?:\s+stored\s+as\s+(\w+))?""" +
      """(?:\s+location\s+'([^']*)')?""" +
      """(?:\s+tblproperties\s*\((.*)\))?\s*$""").r
  // CREATE TABLE with NO column list — legal for Avro tables, whose
  // schema comes entirely from avro.schema.literal (IMPALA-3687)
  private val createAvroNoColsRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s+stored\s+as\s+avro\s*""" +
      """(?:\s*location\s+'([^']*)')?""" +
      """\s*tblproperties\s*\((.*)\)\s*$""").r
  private val avroLiteralRe =
    """(?is)'avro\.schema\.literal'\s*=\s*'([^']*)'""".r
  private val alterSortByRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+sort\s+by\s*""" +
      """(zorder|lexical)?\s*\(([^)]*)\)\s*$""").r
  private val sortByClauseRe =
    """(?is)\bsort\s+by\s*(zorder|lexical)?\s*\(([^)]*)\)""".r

  /** The SORT BY clause of a CREATE statement: (columns, order). */
  private def sortSpecOf(stmt: String): Option[(Seq[String], String)] =
    sortByClauseRe.findFirstMatchIn(stmt).map { m =>
      (m.group(2).split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq,
        Option(m.group(1)).map(_.trim.toUpperCase).getOrElse("LEXICAL"))
    }

  /** Write the sort.columns / sort.order metastore parameters
    * (TableDef.analyzeSortColumns semantics: an EMPTY list clears the
    * columns and resets the order to LEXICAL — alter-table.test's
    * `sort by ()` blocks pin both cells).
    */
  private def setSortParams(name: String, cols: Seq[String],
      order: String): Unit = {
    val tm = ImpalaMeta.tableMeta.getOrElseUpdate(name.toLowerCase,
      new ImpalaMeta.TableMeta())
    tm.params("sort.columns") = cols.mkString(",")
    tm.params("sort.order") = if (cols.isEmpty) "LEXICAL" else order
  }

  private def alterSortBy(name: String, order: Option[String],
      colsTxt: String): Boolean = {
    val cols = colsTxt.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq
    val have = tables(name).dataSchema.fields.map(_.name.toLowerCase).toSet
    cols.find(!have(_)) match {
      case Some(bad) =>
        lastError = Some(
          s"Could not find SORT BY column '$bad' in table.")
      case None =>
        setSortParams(name, cols,
          order.map(_.toUpperCase).getOrElse("LEXICAL"))
        lastMessage = Some("Updated table.")
    }
    true
  }

  /** Post-CREATE metastore params: an explicit SORT BY applies; CREATE
    * … LIKE src inherits the source's parameters
    * (CreateTableLikeStmt copies the property map).
    */
  private def postCreateMeta(name: String,
      sortSpec: Option[(Seq[String], String)], stmt: String): Unit = {
    if (!tables.contains(name)) return
    val tm = ImpalaMeta.tableMeta.getOrElseUpdate(name.toLowerCase,
      new ImpalaMeta.TableMeta())
    tm.format = tables(name).format
    if (stmt.toLowerCase.contains("avro.schema."))
      tables(name).avroSchemaProp = true
    sortSpec match {
      case Some((cols, order)) => setSortParams(name, cols, order)
      case None => stmt match {
        case createLikeRe(_, _, src, _, _) =>
          ImpalaMeta.tableMeta.get(src.split('.').last.toLowerCase)
            .foreach(s => s.params.foreach { case (k, v) =>
              tm.params(k) = v })
        case _ =>
      }
    }
  }

  /** Column DDL ripples into the sort.columns parameter (Impala
    * rewrites the property on rename/drop/replace — alter-table.test).
    */
  private def remapSortCols(name: String,
      f: Seq[String] => Seq[String]): Unit =
    ImpalaMeta.tableMeta.get(name.toLowerCase).foreach { tm =>
      tm.params.get("sort.columns").foreach { sc =>
        val cols = sc.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        tm.params("sort.columns") = f(cols).mkString(",")
      }
    }

  private val alterTblPropsRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+set\s+""" +
      """tblproperties\s*\((.*)\)\s*$""").r
  private val createLikeRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s+like\s+([A-Za-z_][\w.]*)""" +
      """(?:\s+stored\s+as\s+(\w+))?(?:\s+location\s+'([^']*)')?\s*$""").r
  // CREATE TABLE ... LIKE PARQUET '<file>': schema inferred from the
  // parquet footer (CreateTableLikeFileStmt) — here from the warehouse
  // dataset the path points into
  private val createLikeParquetRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s+like\s+parquet\s+'([^']*)'""" +
      """(?:\s+partitioned\s+by\s*\(([^)]*)\))?""" +
      """(?:\s+stored\s+as\s+(\w+))?(?:\s+location\s+'([^']*)')?\s*$""").r
  // CREATE TABLE … LIKE ORC 'file': column defs inferred from the real
  // ORC file footer (CreateTableLikeFileStmt with OrcSchemaExtractor —
  // unlike parquet, tinyint/smallint/char/varchar are preserved; every
  // column comments 'Inferred from ORC file.')
  private val createLikeOrcRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s+like\s+orc\s+'([^']*)'""" +
      """(?:\s+stored\s+as\s+(\w+))?\s*;?\s*$""").r

  /** LIKE-ORC path resolution overrides: parent-dir (or file) name →
    * the locally produced ORC file (the reference runner's HIVE_QUERY
    * CTAS setup, replayed by the harness).
    */
  val likeOrcFiles =
    scala.collection.mutable.Map.empty[String, java.nio.file.Path]

  private val fieldDelimRe =
    """(?is)fields\s+terminated\s+by\s+'((?:[^'\\]|\\.)*)'""".r
  private val lineDelimRe =
    """(?is)lines\s+terminated\s+by\s+'((?:[^'\\]|\\.)*)'""".r
  private val renameRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+rename\s+to\s+""" +
      """(?:([\w$]+)\.)?([A-Za-z_]\w*)\s*$""").r
  private val renameFromDbRe =
    ("""(?is)^\s*alter\s+table\s+([\w$]+)\.([A-Za-z_]\w*)""" +
      """\s+rename\s+to\s+(?:[\w$]+\.)?([A-Za-z_]\w*)\s*$""").r
  private val addColsRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+add\s+""" +
      """(if\s+not\s+exists\s+)?columns?\s*""" +
      """(?:\((.*)\)|(if\s+not\s+exists\s+)?(.*))\s*$""").r
  private val dropColRe =
    """(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+drop\s+(?:column\s+)?([A-Za-z_]\w*)\s*$""".r
  private val changeColRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+change\s+(?:column\s+)?""" +
      """([A-Za-z_]\w*)\s+([A-Za-z_]\w*)\s+(.+?)(?:\s+comment\s+'([^']*)')?\s*$""").r
  private val replaceColsRe =
    """(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+replace\s+columns\s*\((.*)\)\s*$""".r
  private val alterColCommentRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+alter\s+(?:column\s+)?""" +
      """([A-Za-z_]\w*)\s+set\s+comment\s+'([^']*)'\s*$""").r
  private val addPartsRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+add\s+""" +
      """(?:if\s+not\s+exists\s+)?(partition\s*\(.*)$""").r
  private val onePartRe =
    ("""(?is)partition\s*\(""" + SPEC + """\)""" +
      """(?:\s+location\s+'([^']*)')?(?:\s+uncached|\s+cached\s+in\s+'[^']*')?""").r
  private val dropPartRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+drop\s+""" +
      """(?:if\s+exists\s+)?partition\s*\((.*)\)\s*(?:purge\s*)?$""").r
  private val setLocRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)""" +
      """(?:\s+partition\s*\(""" + SPEC + """\))?\s+set\s+location\s+'([^']*)'\s*$""").r
  private val setRowFormatRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)""" +
      """(?:\s+partition\s*\(""" + SPEC + """\))?\s+set\s+row\s+format\s+delimited(.*)$""").r
  private val setFileFormatRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)""" +
      """(?:\s+partition\s*\(""" + SPEC + """\))?\s+set\s+fileformat\s+(\w+)\s*$""").r
  private val setNoopRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)(\s+partition\s*\((?:[^()]|\([^()]*\))*\))?""" +
      """\s+(?:set\s+(?:fileformat|tblproperties|serdeproperties|owner|""" +
      """column\s+stats|cached|uncached)\b.*|sort\s+by\b.*|recover\s+partitions\s*)$""").r
  private val insertRe =
    ("""(?is)^\s*insert\s+(into|overwrite)\s+(?:table\s+)?([A-Za-z_]\w*)""" +
      // column permutation list — possibly EMPTY `()`; never a
      // parenthesized source query
      """\s*(?:\((?!\s*(?:select|values|with)\b)([\w\s,`]*)\))?""" +
      """(?:\s+partition\s*\(((?:[^()]|\([^()]*\))*)\))?(?:\s+(.*))?$""").r
  private val dropTableRe =
    """(?is)^\s*drop\s+table\s+(?:if\s+exists\s+)?([A-Za-z_]\w*)\s*(?:purge\s*)?$""".r
  private val dropQualTableRe =
    ("""(?is)^\s*drop\s+table\s+(?:if\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(?:purge\s*)?$""").r
  private val dropTableMissingRe =
    """(?is)^\s*drop\s+table\s+if\s+exists\s+([\w.]+)\s*(?:purge\s*)?$""".r
  private val invalidateRefreshRe =
    """(?is)^\s*(?:invalidate\s+metadata|refresh)\s+([A-Za-z_]\w*)\s*$""".r
  private val statsNoopRe =
    ("""(?is)^\s*(?:compute\s+(?:incremental\s+)?stats|refresh|""" +
      """invalidate\s+metadata|analyze\s+table|""" +
      """alter\s+table\s+[\w.]+(?:\s+partition\s*\([^)]*\))?\s+compact\b)""" +
      """.*$""").r
  private val computeStatsRe =
    ("""(?is)^\s*compute\s+(incremental\s+)?stats\s+([A-Za-z_]\w*)""" +
      """\s*(?:\(([^)]*)\))?(?:\s+partition\s*\(""" + SPEC + """\))?\s*$""").r
  private val dropStatsRe =
    ("""(?is)^\s*drop\s+(incremental\s+)?stats\s+([A-Za-z_]\w*)""" +
      """(?:\s+partition\s*\(""" + SPEC + """\))?\s*$""").r
  private val setColStatsRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+set\s+column\s+stats\s+""" +
      """([A-Za-z_]\w*)\s*\(([^)]*)\)\s*$""").r
  private val setNumRowsRe =
    ("""(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)""" +
      """(?:\s+partition\s*\(([^)]*)\))?\s+set\s+tblproperties\s*\(""" +
      """[^)]*'numRows'\s*=\s*'(-?\d+)'[^)]*\)\s*$""").r
  private val createFnRe =
    ("""(?is)^\s*create\s+(aggregate\s+)?function\s+""" +
      """(if\s+not\s+exists\s+)?([\w.]+)\s*\(([^)]*)\)\s*""" +
      """returns\s+(\w+)\b.*$""").r
  private val dropFnRe =
    ("""(?is)^\s*drop\s+(?:aggregate\s+)?function\s+""" +
      """(if\s+exists\s+)?([\w.]+)\s*(?:\(([^)]*)\))?\s*;?\s*$""").r
  private val createDbRe =
    ("""(?is)^\s*create\s+(?:database|schema)\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)""" +
      """(?:\s+comment\s+["']([^"']*)["'])?""" +
      """(?:\s+location\s+'([^']*)')?""" +
      """(?:\s+managedlocation\s+'[^']*')?\s*;?\s*$""").r
  private val dropDbRe =
    ("""(?is)^\s*drop\s+(?:database|schema)\s+(if\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s*(cascade|restrict)?\s*;?\s*$""").r
  private val truncMissingRe =
    """(?is)^\s*truncate\s+(?:table\s+)?if\s+exists\s+([A-Za-z_]\w*)\s*$""".r
  private val recoverPartsRe =
    """(?is)^\s*alter\s+table\s+([A-Za-z_]\w*)\s+recover\s+partitions\s*$""".r
  private val truncTblRe =
    """(?is)^\s*truncate\s+(?:table\s+)?(?:if\s+exists\s+)?([A-Za-z_]\w*)\s*$""".r
  private val deleteRe =
    """(?is)^\s*delete\s+from\s+([A-Za-z_]\w*)(?:\s+where\s+(.*))?\s*$""".r
  private val updateRe =
    """(?is)^\s*update\s+([A-Za-z_]\w*)\s+set\s+(.*?)(?:\s+where\s+(.*))?\s*$""".r
  private val ctasRe =
    ("""(?is)^\s*create\s+(?:external\s+)?table\s+(if\s+not\s+exists\s+)?""" +
      """([A-Za-z_]\w*)\s*""" +
      """(?:partitioned\s+by\s*\(([^)]*)\)\s*)?""" +
      """(?:stored\s+as\s+(\w+)\s*)?""" +
      """(?:tblproperties\s*\((?:[^()]|\([^()]*\))*\)\s*)?""" +
      """as\s+(select\b.*)$""").r

  /** Attempt to consume one setup statement. True = handled (or a
    * recognized no-op); false = not this emulator's statement.
    */
  def exec(stmt0: String): Boolean = try {
    lastMessage = None
    lastError = None
    lastInsertReport = Nil
    // a reference to a MODEL database's table qualifies as db.tbl —
    // fold into the single namespace as db__tbl
    val stmtQ = ImpalaMeta.dbRegistry.keys.foldLeft(stmt0) { (acc, db) =>
      acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(db) + "\\.",
        db + "__")
    }
    // ALTER TABLE … SORT BY [ZORDER|LEXICAL] (cols): rewrites the
    // metastore's sort.columns/sort.order parameters
    // (AlterTableSortByStmt; DESCRIBE FORMATTED surfaces them)
    stmtQ match {
      case alterSortByRe(name, order, colsTxt) if tables.contains(name) =>
        return alterSortBy(name, Option(order), colsTxt)
      case _ =>
    }
    // CREATE TABLE forms may carry a SORT BY clause ahead of LIKE/AS —
    // extract it, match the clause-free statement, apply afterwards
    val isCreate =
      """(?is)^\s*create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?([A-Za-z_]\w*)"""
        .r.findFirstMatchIn(stmtQ).map(_.group(1))
    val sortSpec = if (isCreate.isDefined) sortSpecOf(stmtQ) else None
    val stmt =
      if (sortSpec.isDefined) sortByClauseRe.replaceAllIn(stmtQ, " ")
      else stmtQ
    val handled = foldWithInsert(stmt) match {
      case ctasRe(ine, name, parts, fmt, source) =>
        if (ine == null || !tables.contains(name))
          ctas(name, Option(parts), source, Option(fmt))
        true
      case createLikeParquetRe(ine, name, path, parts, fmt, loc) =>
        if (ine == null || !tables.contains(name)) {
          // when the referenced warehouse file ships with the reference
          // (testdata/data/<path-under-test-warehouse>), infer the
          // schema from the REAL parquet footer with Impala's type
          // mapping (CreateTableLikeFileStmt / ParquetHelper.java:
          // int32 → INT whatever its logical annotation; every column
          // comments 'Inferred from Parquet file.')
          val rel = path.replaceAll("^.*test-warehouse/", "")
          val dataRoot = java.nio.file.Paths.get(
            "/root/reference/testdata/data")
          val refFile = Seq(
            dataRoot.resolve(rel),
            dataRoot.resolve("schemas/nested")
              .resolve(rel.split('/').last),
            dataRoot.resolve("schemas/enum")
              .resolve(rel.split('/').last))
            .find(java.nio.file.Files.isRegularFile(_))
          val inferredDf = refFile.flatMap(fp =>
            scala.util.Try(spark.read.parquet(fp.toString)).toOption)
          val inferred: Option[StructType] = inferredDf.map { fdf =>
            def widen(dt: DataType): DataType = dt match {
              case ByteType | ShortType => IntegerType
              // un-annotated BINARY infers as STRING
              // (ParquetHelper.java BYTE_ARRAY → STRING)
              case BinaryType => StringType
              case StructType(fields) => StructType(fields.map(f =>
                f.copy(dataType = widen(f.dataType))))
              case ArrayType(e, n) => ArrayType(widen(e), n)
              case MapType(k, v, n) => MapType(widen(k), widen(v), n)
              case other => other
            }
            StructType(fdf.schema.fields.map(f =>
              f.copy(dataType = widen(f.dataType))
                .withComment("Inferred from Parquet file.")))
          }
          val base = normLoc(path).split('/').head.replaceAll(
            "_(seq|rc|avro|parquet|orc|text)(_[a-z0-9]+)*$", "")
          lazy val df = spark.table(base)
          val pcols =
            if (inferred.isDefined) Nil
            else datasetPartCols.getOrElse(base.toLowerCase, Nil)
          val dataSchema = inferred.getOrElse(
            StructType(df.schema.fields.filterNot(f =>
              pcols.contains(f.name.toLowerCase))))
          val partSchema = Option(parts).filter(_.trim.nonEmpty)
            .map(s => normalizeSchema(StructType.fromDDL(s)))
            .getOrElse(new StructType())
          val t = new Tbl(normalizeSchema(dataSchema), partSchema,
            Option(loc).map(normLoc).getOrElse(name), None)
          t.format = fmtName(Option(fmt))
          if (partSchema.isEmpty) {
            ensureDir(t.baseLocation, raw = false)
            t.parts(Nil) = (t.baseLocation, None)
          }
          tables(name) = t
          // the reference environment's dir holds the source file —
          // an external like-parquet table reads it (the enum probe
          // selects its row)
          inferredDf.filter(_ => partSchema.isEmpty).foreach { fdf =>
            dirs(t.baseLocation) = Fixed(fdf)
            val bytes = scala.util.Try(sources.ImpalaTextFormat
              .fileBytes(fdf.collect().toSeq)).getOrElse(0L)
            dirFiles(t.baseLocation) =
              if (bytes > 0) Vector(bytes) else Vector.empty
          }
          publish(name)
          lastMessage = Some("Table has been created.")
        } else lastMessage = Some("Table already exists.")
        true
      case createLikeOrcRe(ine, name, path, _) =>
        if (ine == null || !tables.contains(name)) {
          val base = path.split('/').last
          val parent = path.split('/').dropRight(1).lastOption.getOrElse("")
          val file = likeOrcFiles.get(parent)
            .orElse(likeOrcFiles.get(base))
            .orElse(Seq(
              java.nio.file.Paths.get("/root/reference/testdata/data", base),
              java.nio.file.Paths.get(
                "/root/reference/testdata/ComplexTypesTbl", base))
              .find(java.nio.file.Files.isRegularFile(_)))
            .getOrElse(throw new IllegalArgumentException(
              s"Cannot infer schema, path does not exist: $path"))
          val schema = StructType(orcSchemaOf(file).fields.map(
            _.withComment("Inferred from ORC file.")))
          val t = new Tbl(normalizeSchema(schema), new StructType(),
            name, None)
          t.format = "ORC"
          ensureDir(t.baseLocation, raw = false)
          t.parts(Nil) = (t.baseLocation, None)
          tables(name) = t
          publish(name)
          lastMessage = Some("Table has been created.")
        } else lastMessage = Some("Table already exists.")
        true
      case createLikeRe(ine, name, src, fmt, loc) =>
        if (ine == null || !tables.contains(name)) {
          createLike(name, src.split('.').last, Option(fmt), Option(loc))
          lastMessage = Some("Table has been created.")
        } else lastMessage = Some("Table already exists.")
        true
      case createRe(ine, name, cols, parts, serdeTxt, fmt, loc, tblProps) =>
        if (ine == null || !tables.contains(name)) {
          create(name, cols, Option(parts), Option(serdeTxt), Option(fmt),
            Option(loc), Option(tblProps))
          lastMessage = Some("Table has been created.")
        } else lastMessage = Some("Table already exists.")
        true
      case createAvroNoColsRe(ine, name, loc, tblProps) =>
        if (ine == null || !tables.contains(name))
          create(name, "", None, None, Some("avro"), Option(loc),
            Option(tblProps))
        true
      case renameRe(from, toDb, to) if tables.contains(from) =>
        if (toDb != null) {
          // rename INTO another database: the table leaves this one
          // but stays addressable under its qualified name (the model
          // can rename it back — alter-table.test round-trips it)
          val key = s"${toDb.toLowerCase}.${to.toLowerCase}"
          tables(key) = tables.remove(from).get
          ImpalaStats.rename(from, key)
          // the moved model's closures must re-bind to the new key —
          // SHOW TABLE STATS on the qualified name reads the same
          // partition/file ledger the table had before the move
          registerStats(key)
          spark.catalog.dropTempView(from); published -= from
        } else {
          tables(to) = tables.remove(from).get
          ImpalaStats.rename(from, to)
          ImpalaMeta.tableMeta.remove(from.toLowerCase)
            .foreach(ImpalaMeta.tableMeta(to.toLowerCase) = _)
          spark.catalog.dropTempView(from); published -= from
          publish(to)
        }
        lastMessage = Some("Renaming was successful.")
        true
      case renameFromDbRe(fromDb, from, to)
          if tables.contains(s"${fromDb.toLowerCase}.$from") =>
        val key = s"${fromDb.toLowerCase}.$from"
        tables(to) = tables.remove(key).get
        ImpalaStats.rename(key, to)
        lastMessage = Some("Renaming was successful.")
        publish(to); true
      case addColsRe(name, ine1, colsParen, ine2, colsBare)
          if tables.contains(name) =>
        val colsTxt = Option(colsParen).getOrElse(colsBare)
        val before = tables(name).dataSchema.length
        addColumns(name, colsTxt, ine1 != null || ine2 != null)
        lastMessage = Some(
          if (tables(name).dataSchema.length > before)
            "New column(s) have been added to the table."
          else "No new column(s) have been added to the table.")
        true
      case dropColRe(name, col) if tables.contains(name) =>
        val t = tables(name)
        t.dataSchema = StructType(
          t.dataSchema.fields.filterNot(_.name.equalsIgnoreCase(col)))
        ImpalaStats.forgetColumn(name, col)
        remapSortCols(name, _.filterNot(_.equalsIgnoreCase(col)))
        lastMessage = Some("Column has been dropped.")
        publish(name); true
      case changeColRe(name, oldN, newN, typeTxt, comment)
          if tables.contains(name) =>
        val t = tables(name)
        val (nt, rawType) = parseColType(typeTxt)
        t.dataSchema = StructType(t.dataSchema.fields.map { f =>
          if (f.name.equalsIgnoreCase(oldN)) {
            val keep = f.getComment()
            val sf0 = StructField(newN, nt)
            val sf = rawType match {
              case Some(r) => sf0.copy(metadata =
                new MetadataBuilder()
                  .putString("__CHAR_VARCHAR_TYPE_STRING", r).build())
              case None => sf0
            }
            Option(comment).orElse(keep).map(sf.withComment).getOrElse(sf)
          } else f
        })
        ImpalaStats.forgetColumn(name, oldN)
        ImpalaStats.forgetColumn(name, newN)
        remapSortCols(name, _.map(c =>
          if (c.equalsIgnoreCase(oldN)) newN.toLowerCase else c))
        lastMessage = Some("Column has been altered.")
        publish(name); true
      case replaceColsRe(name, colsTxt) if tables.contains(name) =>
        tables(name).dataSchema = StructType.fromDDL(colsTxt)
        val kept = tables(name).dataSchema.fields
          .map(_.name.toLowerCase).toSet
        remapSortCols(name, _.filter(kept))
        lastMessage = Some("Table columns have been replaced.")
        publish(name); true
      case alterColCommentRe(name, col, comment) if tables.contains(name) =>
        val t = tables(name)
        t.dataSchema = StructType(t.dataSchema.fields.map(f =>
          if (f.name.equalsIgnoreCase(col)) f.withComment(comment) else f))
        publish(name); true
      case addPartsRe(name, specsTxt) if tables.contains(name) =>
        onePartRe.findAllMatchIn(specsTxt).foreach { m =>
          addPartition(name, m.group(1), Option(m.group(2)))
        }
        lastMessage = Some("New partition has been added to the table.")
        publish(name); true
      case dropPartRe(name, pred) if tables.contains(name) =>
        dropPartitions(name, pred); publish(name); true
      case setLocRe(name, partSpec, loc) if tables.contains(name) =>
        setLocation(name, Option(partSpec), loc)
        lastMessage = Some(
          if (partSpec != null)
            "New location has been set for the specified partition."
          else "New location has been set.")
        publish(name); true
      case setRowFormatRe(name, partSpec, serdeTxt)
          if tables.contains(name) =>
        val t = tables(name)
        val s = parseSerde(serdeTxt,
          t.tableSerde.getOrElse(Serde("", "\n")))
        Option(partSpec) match {
          case Some(spec) =>
            val keys = ImpalaStats.matchPartitions(spark, name, spec)
              .getOrElse(Seq(partKey(t, spec)))
            keys.foreach { key =>
              t.parts.get(key).foreach { case (p, _) =>
                t.parts(key) = (p, Some(s))
              }
            }
            lastMessage = Some(s"Updated ${keys.size} partition(s).")
          case None =>
            t.tableSerde = Some(s)
            lastMessage = Some("Updated table.")
        }
        publish(name); true
      // a NEW avro.schema.literal redefines an Avro table's schema on
      // the next metadata load (IMPALA-3776) — must outrank the
      // SET TBLPROPERTIES no-op arm
      case alterTblPropsRe(name, propsTxt)
          if tables.contains(name) && tables(name).isAvro &&
            avroLiteralRe.findFirstIn(propsTxt).isDefined =>
        val t = tables(name)
        avroLiteralRe.findFirstMatchIn(propsTxt).foreach { m =>
          t.dataSchema = schemaFromAvroLiteral(m.group(1), None)
        }
        publish(name); true
      case recoverPartsRe(name) if tables.contains(name) &&
          tables(name).recoverSrc.isDefined &&
          tables(name).partSchema.nonEmpty =>
        // materialize every partition present in the location's data
        // (AlterTableRecoverPartitionsStmt — the dir walk IS the source
        // dataset here)
        val t = tables(name)
        val src = t.recoverSrc.get
        val pIdx = t.partSchema.fields.map(pf =>
          src.schema.fields.indexWhere(_.name.equalsIgnoreCase(pf.name)))
        val dIdx = t.dataSchema.fields.map(f =>
          src.schema.fields.indexWhere(_.name.equalsIgnoreCase(f.name)))
        src.collect().toSeq.groupBy { r =>
          pIdx.toSeq.map(i =>
            if (i < 0 || r.isNullAt(i)) None
            else Some(String.valueOf(r.get(i))))
        }.foreach { case (key, rs) =>
          val df = spark.createDataFrame(
            new java.util.ArrayList[Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(rs.map(r =>
                Row.fromSeq(dIdx.toSeq.map(i =>
                  if (i < 0) null else r.get(i))))).asJava),
            t.dataSchema)
          store(t, key, df, overwrite = true)
        }
        lastMessage = Some("Partitions have been recovered.")
        publish(name); true
      case createFnRe(agg, ine, qname, argsTxt, ret)
          if invalidFnBinary(stmt).isDefined =>
        // the loader rejects unknown binaries before cataloging
        // (LibCache::GetLocalLibPath — udf-errors.test pins the shape)
        throw new IllegalArgumentException(
          s"Could not load binary: ${invalidFnBinary(stmt).get}")
      case createFnRe(agg, ine, qname, argsTxt, ret) =>
        // db__fn names fold back to their db; an unqualified name (the
        // session's test database) lands in the default bucket
        val name = qname.replace(".", "__")
        val (db, fn) = ImpalaMeta.dbRegistry.keys
          .find(d => name.startsWith(d + "__"))
          .map(d => (d, name.stripPrefix(d + "__")))
          .getOrElse(("$default$", name))
        val args = argsTxt.split(",").map(_.trim.toUpperCase)
          .filter(_.nonEmpty).mkString(", ")
        val sig = s"$fn($args)"
        val buf = ImpalaMeta.fnRegistry.getOrElseUpdate(db,
          scala.collection.mutable.ArrayBuffer.empty)
        if (buf.exists(_._1 == sig))
          lastMessage = Some(
            if (ine != null) "Function already exists."
            else "Function already exists.")
        else {
          buf += ((sig, ret.toUpperCase, agg != null))
          // SHOW CREATE FUNCTION detail: location + the symbol as
          // written (the renderer derives the mangled form)
          val loc = """(?is)\blocation\s+'([^']*)'""".r
            .findFirstMatchIn(stmt).map(_.group(1))
          val sym = """(?is)\b(?:symbol|update_fn)\s*=\s*'([^']*)'""".r
            .findFirstMatchIn(stmt).map(_.group(1))
          sym.foreach { sm =>
            ImpalaMeta.fnDetails.getOrElseUpdate(fn.toLowerCase,
              scala.collection.mutable.ArrayBuffer.empty) +=
              ImpalaMeta.FnOverload(agg != null, args, ret.toUpperCase,
                loc, sm)
          }
          lastMessage = Some("Function has been created.")
        }
        true
      case dropFnRe(ife, qname, argsTxt) =>
        val name = qname.replace(".", "__")
        val (db, fn) = ImpalaMeta.dbRegistry.keys
          .find(d => name.startsWith(d + "__"))
          .map(d => (d, name.stripPrefix(d + "__")))
          .getOrElse(("$default$", name))
        val args = Option(argsTxt).getOrElse("").split(",")
          .map(_.trim.toUpperCase).filter(_.nonEmpty).mkString(", ")
        val sig = s"$fn($args)"
        ImpalaMeta.fnDetails.get(fn.toLowerCase).foreach { dbuf =>
          if (argsTxt == null) dbuf.clear()
          else {
            val j = dbuf.indexWhere(_.argsSql == args)
            if (j >= 0) dbuf.remove(j)
          }
        }
        val buf = ImpalaMeta.fnRegistry.getOrElse(db,
          scala.collection.mutable.ArrayBuffer.empty)
        val i = buf.indexWhere(_._1 == sig)
        if (i >= 0) {
          buf.remove(i)
          lastMessage = Some("Function has been dropped.")
        } else lastMessage = Some("Function does not exist.")
        true
      case createDbRe(ine, name, comment, loc) =>
        val lower = name.toLowerCase
        if (ImpalaMeta.dbRegistry.contains(lower) && ine != null)
          lastMessage = Some("Database already exists.")
        else {
          ImpalaMeta.dbRegistry(lower) = ImpalaMeta.DbInfo(
            Option(comment).getOrElse(""), Option(loc))
          lastMessage = Some("Database has been created.")
        }
        true
      case dropDbRe(ife, name, mode)
          if mode == null && sessionDb.exists(_.equalsIgnoreCase(name)) &&
            (tables.nonEmpty || ImpalaMeta.fnRegistry.getOrElse("$default$",
              scala.collection.mutable.ArrayBuffer.empty).nonEmpty) =>
        // dropping the session's own non-empty database without
        // CASCADE (CatalogOpExecutor dropDatabase)
        throw new IllegalStateException(
          s"Cannot drop non-empty database: $name")
      case dropDbRe(ife, name, mode) =>
        val lower = name.toLowerCase
        if (ImpalaMeta.dbRegistry.remove(lower).isDefined) {
          // CASCADE drops the database's tables too
          if (mode != null && mode.equalsIgnoreCase("cascade")) {
            tables.keys.toSeq.filter(_.startsWith(lower + "__"))
              .foreach { t =>
                tables.remove(t); ImpalaStats.drop(t)
                scala.util.Try(spark.catalog.dropTempView(t))
                published -= t
              }
            // views and functions of the db go with it
            spark.catalog.listTables().collect().map(_.name)
              .filter(_.toLowerCase.startsWith(lower + "__"))
              .foreach(v => scala.util.Try(spark.catalog.dropTempView(v)))
            ImpalaMeta.fnRegistry.remove(lower)
          }
          lastMessage = Some("Database has been dropped.")
        } else lastMessage = Some(
          if (ife != null) "Database does not exist."
          else s"Database does not exist: $lower")
        true
      case computeStatsRe(incr, name, cols, partSpec)
          if tables.contains(name) =>
        val colList = Option(cols).map(_.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty))
        // a scoped spec may be a partial k=v list or an arbitrary
        // partition predicate (j<2) — resolve to explicit keys
        val keys = Option(partSpec).flatMap(
          ImpalaStats.matchPartitions(spark, name, _))
        lastMessage =
          ImpalaStats.computeStats(spark, name, incr != null, colList, keys)
        true
      case dropStatsRe(incr, name, partSpec) if tables.contains(name) =>
        if (incr != null && partSpec != null)
          ImpalaStats.dropIncrementalPartition(name,
            partKey(tables(name), partSpec))
        else ImpalaStats.dropStats(name)
        true
      case setColStatsRe(name, colName, propsTxt)
          if tables.contains(name) =>
        val props = """'([^']*)'\s*=\s*'([^']*)'""".r
          .findAllMatchIn(propsTxt)
          .map(m => m.group(1) -> m.group(2)).toMap
        ImpalaStats.setColumnStats(name, colName, props)
        true
      case setNumRowsRe(name, partSpec, n) if tables.contains(name) =>
        Option(partSpec) match {
          case Some(spec) =>
            val key = partKey(tables(name), spec)
            ImpalaStats.lookup(name).foreach(_._2.partRows(key) = n.toLong)
            lastMessage = Some("Updated 1 partition(s).")
          case None =>
            ImpalaStats.setRowCount(name, n.toLong)
            lastMessage = Some("Updated table.")
        }
        true
      case setFileFormatRe(name, partSpec, fmt) if tables.contains(name) =>
        val t = tables(name)
        // flipping a non-Avro table (or one of its partitions) to AVRO
        // leaves the cached scan metadata without an Avro schema —
        // scans fail until the metadata is invalidated
        if (fmtName(Some(fmt)) == "AVRO" && !t.isAvro && t.avroSchemaProp)
          t.staleAvroScan = true
        Option(partSpec) match {
          case Some(spec) =>
            val keys = ImpalaStats.matchPartitions(spark, name, spec)
              .getOrElse(Seq(partKey(t, spec)))
            keys.foreach(t.partFmt(_) = fmtName(Some(fmt)))
            lastMessage = Some(s"Updated ${keys.size} partition(s).")
          case None =>
            t.format = fmtName(Some(fmt))
            lastMessage = Some("Updated table.")
        }
        publish(name); true
      case setNoopRe(name, partSpec) if tables.contains(name) =>
        lastMessage = Some(Option(partSpec) match {
          case Some(specTxt) =>
            val inner = """(?is)partition\s*\((.*)\)\s*$""".r
              .findFirstMatchIn(specTxt).map(_.group(1)).getOrElse("")
            val n = ImpalaStats.matchPartitions(spark, name, inner)
              .map(_.size).getOrElse(1)
            s"Updated $n partition(s)."
          case None => "Updated table."
        })
        true
      case insertRe(mode, name, colList, partSpec, source)
          if tables.contains(name) =>
        insert(name, mode.equalsIgnoreCase("overwrite"),
          Option(partSpec), Option(source).getOrElse(""),
          Option(colList).map(_.split(",").toSeq.map(_.trim.toLowerCase
            .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)))
        publish(name); true
      case dropQualTableRe(db, name)
          if tables.contains(s"${db.toLowerCase}.${name.toLowerCase}") =>
        // a table renamed INTO another db drops under its qualified name
        val key = s"${db.toLowerCase}.${name.toLowerCase}"
        tables.remove(key)
        ImpalaStats.drop(key)
        lastMessage = Some("Table has been dropped.")
        true
      case dropTableRe(name) if tables.contains(name) =>
        ImpalaMeta.tableMeta.remove(name.toLowerCase)
        val t = tables.remove(name).get
        // a managed drop purges the table's own directories (a
        // recreated same-name table must not see the old files);
        // replicated warehouse datasets (Fixed) stay — external data
        dirs.keys.toSeq.filter(p => p == t.baseLocation ||
            p.startsWith(t.baseLocation + "/")).foreach { p =>
          dirs.get(p) match {
            case Some(Fixed(_)) =>
            case _ => dirs.remove(p); dirFiles.remove(p)
          }
        }
        ImpalaStats.drop(name)
        spark.catalog.dropTempView(name); published -= name
        lastMessage = Some("Table has been dropped.")
        true
      case truncTblRe(name) if tables.contains(name) =>
        // TRUNCATE removes the data, keeps the partitions (Impala
        // writes an empty base dir per partition — acid-truncate.test)
        // and drops table/column stats (CatalogOpExecutor truncateTable)
        val t = tables(name)
        t.parts.values.foreach { case (path, _) =>
          dirs(path) =
            if (t.rawMode) Raw(new StringBuilder)
            else emptyRows(t.dataSchema)
          dirFiles(path) = Vector.empty
        }
        ImpalaStats.lookup(name).foreach(_._2.clearAll())
        lastMessage = Some("Table has been truncated.")
        publish(name); true
      case truncMissingRe(name) if !tables.contains(name) =>
        lastMessage = Some("Table does not exist.")
        true
      case dropTableMissingRe(name)
          if !tables.contains(name.split('.').last) =>
        // a dotted name's db segment isn't a known database in the
        // single-namespace model — Impala reports the db first
        lastMessage = Some(
          if (name.contains('.'))
            s"Database does not exist: ${name.split('.').head}"
          else "Table does not exist.")
        true
      case deleteRe(name, pred) if tables.contains(name) =>
        deleteWhere(name, Option(pred)); publish(name); true
      case updateRe(name, setTxt, pred) if tables.contains(name) =>
        updateSet(name, setTxt, Option(pred)); publish(name); true
      case invalidateRefreshRe(name)
          if tables.contains(name.toLowerCase) &&
            tables(name.toLowerCase).staleAvroScan =>
        // the metadata reload binds the Avro schema — scans work again
        tables(name.toLowerCase).staleAvroScan = false
        publish(name.toLowerCase); true
      case statsNoopRe() if tables.nonEmpty => true
      case _ => false
    }
    if (handled) isCreate.foreach(n => postCreateMeta(n, sortSpec, stmt))
    handled
  } catch {
    case t: Throwable =>
      lastError = Some(Option(t.getMessage).getOrElse(t.toString))
      if (sys.env.contains("GRAFT_DDL_TRACE")) {
        println(s"[ddl THREW] ${stmt0.replaceAll("\\s+", " ").take(120)}")
        t.printStackTrace()
      }
      true // consumed-but-failed, like Impala erroring
  }

  // ------------------------------------------------------------------

  private def parseSerde(txt: String, base: Serde): Serde = {
    val f = fieldDelimRe.findFirstMatchIn(txt).map(m => unescape(m.group(1)))
    val l = lineDelimRe.findFirstMatchIn(txt).map(m => unescape(m.group(1)))
    Serde(f.getOrElse(base.fieldDelim), l.getOrElse(base.lineDelim))
  }

  /** CHAR/VARCHAR can't live in a DataFrame schema — carry them the
    * way Spark itself does, as StringType plus the
    * `__CHAR_VARCHAR_TYPE_STRING` metadata (CharVarcharUtils), which
    * ImpalaMeta surfaces back in DESCRIBE.
    */
  private def parseColType(txt: String): (DataType, Option[String]) =
    DataType.fromDDL(txt) match {
      case v: VarcharType => (StringType, Some(s"varchar(${v.length})"))
      case c: CharType => (StringType, Some(s"char(${c.length})"))
      case other => (other, None)
    }

  /** Hive text-delimiter escapes: octal (`'\002'`), \t, \n, \\. */
  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        val c = s.charAt(i + 1)
        if (c >= '0' && c <= '7') {
          var j = i + 1
          var v = 0
          while (j < s.length && j < i + 4 && s.charAt(j) >= '0' &&
              s.charAt(j) <= '7') { v = v * 8 + (s.charAt(j) - '0'); j += 1 }
          sb.append(v.toChar); i = j
        } else {
          sb.append(c match {
            case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
            case other => other
          })
          i += 2
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def normLoc(loc: String): String = {
    val afterWh = loc.replaceAll("^.*test-warehouse/", "")
    afterWh.replaceAll("^[^/]*\\.db/", "")
      // the harness's db-prefix strip eats `$DATABASE.` inside
      // location strings too, leaving a bare `db/` segment
      .replaceAll("^db/", "")
      .stripSuffix("/")
  }

  /** The ORC file's own type description mapped to Catalyst types —
    * CHAR/VARCHAR lengths and DECIMAL precision preserved (Spark's
    * reader would erase char).
    */
  private def orcSchemaOf(file: java.nio.file.Path): StructType = {
    import org.apache.orc.TypeDescription
    import org.apache.orc.TypeDescription.Category
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(file.toUri),
      org.apache.orc.OrcFile.readerOptions(
        new org.apache.hadoop.conf.Configuration()))
    try {
      def conv(t: TypeDescription): DataType = t.getCategory match {
        case Category.BOOLEAN => BooleanType
        case Category.BYTE => ByteType
        case Category.SHORT => ShortType
        case Category.INT => IntegerType
        case Category.LONG => LongType
        case Category.FLOAT => FloatType
        case Category.DOUBLE => DoubleType
        case Category.STRING => StringType
        case Category.CHAR => CharType(t.getMaxLength)
        case Category.VARCHAR => VarcharType(t.getMaxLength)
        case Category.BINARY => BinaryType
        case Category.DECIMAL =>
          DecimalType(t.getPrecision, t.getScale)
        case Category.TIMESTAMP | Category.TIMESTAMP_INSTANT =>
          TimestampType
        case Category.DATE => DateType
        case Category.LIST => ArrayType(conv(t.getChildren.get(0)))
        case Category.MAP =>
          MapType(conv(t.getChildren.get(0)), conv(t.getChildren.get(1)))
        case Category.STRUCT =>
          StructType(t.getFieldNames.toArray(Array.empty[String])
            .zipWithIndex.map { case (n, i) =>
              StructField(n, conv(t.getChildren.get(i)))
            })
        case other =>
          throw new IllegalArgumentException(s"unmapped ORC type $other")
      }
      conv(reader.getSchema).asInstanceOf[StructType]
    } finally reader.close()
  }

  /** DataFrame schemas can't carry CHAR/VARCHAR — normalize to
    * StringType + Spark's own CharVarcharUtils metadata (surfaced back
    * by ImpalaMeta's DESCRIBE).
    */
  private def normalizeSchema(st: StructType): StructType =
    StructType(st.fields.map { f =>
      f.dataType match {
        case v: VarcharType => f.copy(dataType = StringType,
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("__CHAR_VARCHAR_TYPE_STRING", s"varchar(${v.length})")
            .build())
        case c: CharType => f.copy(dataType = StringType,
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("__CHAR_VARCHAR_TYPE_STRING", s"char(${c.length})")
            .build())
        // CHAR/VARCHAR nested inside complex types can't live in a
        // DataFrame either — replace with STRING but keep the DECLARED
        // type text so DESCRIBE still prints varchar(10) inside the
        // struct (create-table.test struct_keywords)
        case other =>
          val replaced = org.apache.spark.sql.catalyst.util
            .CharVarcharUtils.replaceCharVarcharWithString(other)
          if (replaced == other) f
          else f.copy(dataType = replaced,
            metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putString("__CHAR_VARCHAR_TYPE_STRING",
                ImpalaMeta.typeSql(other, 0))
              .build())
      }
    })

  /** Avro storage has no tinyint/smallint/timestamp — columns promote
    * to INT/STRING and carry Hive's 'from deserializer' comment unless
    * an explicit one exists (AvroSchemaConverter; IMPALA-1813 goldens).
    */
  private def avroPromote(st: StructType): StructType =
    StructType(st.fields.map { f =>
      val t = f.dataType match {
        case ByteType | ShortType => IntegerType
        case TimestampType => StringType
        case other => other
      }
      val withT = f.copy(dataType = t)
      if (withT.getComment().isDefined) withT
      else withT.withComment("from deserializer")
    })

  /** Impala's Avro-schema reconciliation
    * (`fe/src/main/java/org/apache/impala/util/AvroSchemaUtils.java`
    * reconcileAvroAndFieldSchemas): the avro.schema.literal wins the
    * column NAMES, TYPES and comments (doc, else Hive's
    * 'from deserializer'); the one exception is CHAR/VARCHAR, where
    * the POSITION-matched column definition's type is kept.
    */
  private def schemaFromAvroLiteral(json: String,
      coldefs: Option[StructType]): StructType = {
    import scala.jdk.CollectionConverters._
    val parser = new org.apache.avro.Schema.Parser()
    parser.setValidateDefaults(false)
    val avro = parser.parse(json)
    def typeOf(s: org.apache.avro.Schema): (DataType, Boolean) = {
      import org.apache.avro.Schema.Type._
      s.getType match {
        case UNION =>
          val nonNull = s.getTypes.asScala.filter(_.getType != NULL)
          (typeOf(nonNull.head)._1, true)
        case STRING | ENUM => (StringType, false)
        case LONG => (LongType, false)
        case INT if s.getLogicalType != null &&
            s.getLogicalType.getName == "date" => (DateType, false)
        case INT => (IntegerType, false)
        case DOUBLE => (DoubleType, false)
        case FLOAT => (FloatType, false)
        case BOOLEAN => (BooleanType, false)
        case _ => (BinaryType, false)
      }
    }
    val fields = avro.getFields.asScala.toArray
    StructType(fields.zipWithIndex.map { case (f, i) =>
      val (dt, _) = typeOf(f.schema())
      val base = StructField(f.name().toLowerCase, dt)
      // CHAR/VARCHAR survive from the position-matched column def
      val typed = coldefs
        .flatMap(cd => cd.fields.lift(i))
        .filter(_.metadata.contains("__CHAR_VARCHAR_TYPE_STRING"))
        .map(cd => base.copy(dataType = StringType, metadata =
          new MetadataBuilder().putString("__CHAR_VARCHAR_TYPE_STRING",
            cd.metadata.getString("__CHAR_VARCHAR_TYPE_STRING")).build()))
        .getOrElse(base)
      typed.withComment(Option(f.doc()).getOrElse("from deserializer"))
    })
  }

  private def create(name: String, colsTxt: String, partsTxt: Option[String],
      serdeTxt: Option[String], fmt: Option[String],
      loc: Option[String], tblProps: Option[String] = None): Unit = {
    val isAvro = fmt.exists(_.equalsIgnoreCase("avro"))
    val avroLiteral = tblProps.flatMap(p =>
      avroLiteralRe.findFirstMatchIn(p).map(_.group(1)))
    val coldefs =
      if (colsTxt.trim.isEmpty) new StructType()
      else normalizeSchema(StructType.fromDDL(colsTxt))
    val dataSchema = (isAvro, avroLiteral) match {
      case (true, Some(lit)) =>
        val p = new org.apache.avro.Schema.Parser()
        p.setValidateDefaults(false)
        val n = p.parse(lit).getFields.size()
        schemaFromAvroLiteral(lit, Some(coldefs).filter(_.length == n))
      case (true, None) => avroPromote(coldefs)
      case _ => coldefs
    }
    val partSchema = partsTxt.filter(_.trim.nonEmpty)
      .map(s => normalizeSchema(StructType.fromDDL(s)))
      .getOrElse(new StructType())
    val serde = serdeTxt.map(parseSerde(_, Serde("", "\n")))
    val t = new Tbl(dataSchema, partSchema,
      loc.map(normLoc).getOrElse(name), serde, isAvro)
    t.format = fmtName(fmt)
    t.locStyleDb = loc.forall(l =>
      l.contains("$DATABASE") || l.contains("/db/") || !l.contains("test-warehouse"))
    if (partSchema.isEmpty) {
      // an explicit LOCATION may point at existing data (a warehouse
      // dataset dir); otherwise the fresh table dir is empty
      val path = loc.map(l => resolveDir(t, l)).getOrElse {
        ensureDir(t.baseLocation, t.rawMode); t.baseLocation
      }
      t.parts(Nil) = (path, None)
      // a file:// LOCATION naming a REAL local directory seeds the
      // model with its bytes — Impala's external table over the local
      // filesystem (local-filesystem.test)
      loc.map(_.trim).filter(_.startsWith("file://")).foreach { l =>
        val real = java.nio.file.Paths.get(l.stripPrefix("file://"))
        if (java.nio.file.Files.isDirectory(real)) {
          val s = java.nio.file.Files.list(real)
          val bytes =
            try scala.jdk.CollectionConverters.IteratorHasAsScala(
                s.iterator()).asScala.toSeq
              .filter(java.nio.file.Files.isRegularFile(_))
              .sortBy(_.getFileName.toString)
              .map(p => new String(java.nio.file.Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.ISO_8859_1))
              .mkString
            finally s.close()
          if (bytes.nonEmpty && t.rawMode)
            dirs(path) = Raw(new StringBuilder(bytes))
        }
      }
    }
    tables(name) = t
    publish(name)
  }

  /** Partition columns of the replicated generator datasets (schema
    * template PARTITION_COLUMNS sections) — LIKE preserves them.
    */
  private val datasetPartCols: Map[String, Seq[String]] = Map(
    "alltypes" -> Seq("year", "month"),
    "alltypessmall" -> Seq("year", "month"),
    "alltypestiny" -> Seq("year", "month"),
    "alltypesagg" -> Seq("year", "month", "day"),
    "date_tbl" -> Seq("date_part"),
    "decimal_tbl" -> Seq("d6"))

  /** SHOW TABLE STATS format text per HdfsFileFormat. */
  private def fmtName(fmt: Option[String]): String =
    fmt.map(_.toLowerCase) match {
      case Some("parquet") => "PARQUET"
      case Some("avro") => "AVRO"
      case Some("rcfile") => "RC_FILE"
      case Some("sequencefile") => "SEQUENCE_FILE"
      case Some("orc") => "ORC"
      case Some("textfile") | None => "TEXT"
      case Some(other) => other.toUpperCase
    }

  private def createLike(name: String, src: String, fmt: Option[String],
      loc: Option[String]): Unit = {
    val isAvro = fmt.exists(_.equalsIgnoreCase("avro"))
    def init(t: Tbl): Unit = {
      if (fmt.isDefined) t.format = fmtName(fmt)
      if (isAvro) t.dataSchema = avroPromote(t.dataSchema)
      if (t.partSchema.isEmpty) {
        val path = loc.map(l => resolveDir(t, l)).getOrElse {
          ensureDir(t.baseLocation, t.rawMode); t.baseLocation
        }
        t.parts(Nil) = (path, None)
      }
      tables(name) = t
      publish(name)
    }
    tables.get(src) match {
      case Some(s) if src != name =>
        val t = new Tbl(s.dataSchema, s.partSchema,
          loc.map(normLoc).getOrElse(name), s.tableSerde)
        t.format = s.format
        t.locStyleDb = loc.forall(l =>
          l.contains("$DATABASE") || l.contains("/db/") || !l.contains("test-warehouse"))
        init(t)
      case Some(_) => // LIKE itself under IF NOT EXISTS — no-op
      case None =>
        val df = spark.table(src)
        // a __fx_<db>__<name> alias carries its source db: an HBase
        // mapping has NO partition columns (year/month are ordinary
        // row-key columns there); hdfs datasets keep theirs
        val (srcDb, srcName) = {
          val s = src.toLowerCase
          if (s.startsWith("__fx_")) {
            val rest = s.stripPrefix("__fx_")
            val i = rest.indexOf("__")
            if (i > 0) (rest.take(i), rest.drop(i + 2)) else ("", rest)
          } else if (s.startsWith("hbase__"))
            // the harness's HBase-mapping views (hbaseize rewrites
            // functional_hbase.x before the statement reaches here)
            ("functional_hbase", s.stripPrefix("hbase__"))
          else ("", s)
        }
        val pcols =
          if (srcDb.startsWith("functional_hbase")) Nil
          else datasetPartCols.getOrElse(srcName, Nil)
        // the pre-split hbase datasets (schema template
        // HBASE_REGION_SPLITS '1','3','5','7','9'); others load into
        // a single region
        val hbaseSplit = Set("alltypessmall", "alltypesagg", "date_tbl",
          "stringids")
        val dataSchema = StructType(
          df.schema.fields.filterNot(f => pcols.contains(f.name.toLowerCase)))
        val partSchema = StructType(
          pcols.flatMap(p => df.schema.fields.find(_.name.equalsIgnoreCase(p))))
        val t = new Tbl(dataSchema, partSchema,
          loc.map(normLoc).getOrElse(name), None)
        t.locStyleDb = loc.forall(l =>
          l.contains("$DATABASE") || l.contains("/db/") || !l.contains("test-warehouse"))
        if (srcDb.contains("parquet")) t.format = "PARQUET"
        else if (srcDb.contains("rc")) t.format = "RC_FILE"
        else if (srcDb.contains("seq")) t.format = "SEQUENCE_FILE"
        else if (srcDb.contains("avro")) t.format = "AVRO"
        else if (srcDb.contains("orc")) t.format = "ORC"
        if (srcDb.startsWith("functional_hbase"))
          t.hbaseRegions =
            if (hbaseSplit(srcName)) Seq("", "1", "3", "5", "7", "9")
            else Seq("")
        // RECOVER PARTITIONS re-materializes from the location's
        // existing warehouse data — remember the source snapshot
        t.recoverSrc = Some(df)
        init(t)
        // an hbase LIKE maps onto the SAME storage (hbase.table.name
        // rides along) — the clone sees the source rows immediately
        if (t.hbaseRegions.nonEmpty) {
          t.parts.get(Nil).foreach { case (path, _) =>
            dirs(path) = Fixed(df)
          }
          publish(name)
        }
    }
  }

  private def emptyRows(schema: StructType): Rows =
    Rows(spark.createDataFrame(new java.util.ArrayList[Row](), schema))

  private def ensureDir(path: String, raw: Boolean): Unit =
    if (!dirs.contains(path))
      dirs(path) =
        if (raw) Raw(new StringBuilder) else emptyRows(new StructType())

  private def addColumns(name: String, colsTxt: String,
      ifNotExists: Boolean): Unit = {
    val t = tables(name)
    val parsed0 = normalizeSchema(StructType.fromDDL(colsTxt))
    // Avro storage promotes the added columns too (tinyint/smallint →
    // INT, timestamp → STRING — avro-schema-changes.test IMPALA-3092)
    val parsed = if (t.isAvro) avroPromote(parsed0) else parsed0
    val add = parsed.fields.filter { nf =>
      val exists = t.dataSchema.fields.exists(
        _.name.equalsIgnoreCase(nf.name))
      if (exists && !ifNotExists)
        throw new IllegalArgumentException(s"column exists: ${nf.name}")
      !exists
    }
    t.dataSchema = StructType(t.dataSchema.fields ++ add)
    if (add.nonEmpty) ImpalaStats.invalidateIncremental(name)
    publish(name)
  }

  /** Canonical partition value: evaluate the (possibly expression)
    * value, cast to the column type, render to string; NULL and the
    * empty string map to the default (NULL) partition like Impala.
    */
  private def canonValue(expr: String, dt: DataType): Option[String] = {
    val r = ImpalaDialect.sql(spark,
      s"SELECT CAST(CAST(($expr) AS STRING) AS ${dt.sql}) AS v").head()
    if (r.isNullAt(0)) None
    else {
      // canonical partition-value strings use Impala's partition-name
      // rendering (%.16g floats — `float_col=0`, not `0.0`)
      val s = sources.ImpalaTextFormat.render(r.get(0)).getOrElse("")
      if (s.isEmpty) None else Some(s)
    }
  }

  private def partKey(t: Tbl, specTxt: String): Seq[Option[String]] = {
    val entries = SqlText.split(specTxt)
      .map(_.trim).filter(_.nonEmpty)
    val m = entries.flatMap { e =>
      val i = e.indexOf('=')
      if (i < 0) None
      else Some(e.take(i).trim.toLowerCase
        .stripPrefix("`").stripSuffix("`") -> e.drop(i + 1).trim)
    }.toMap
    t.partSchema.fields.toSeq.map { pf =>
      m.get(pf.name.toLowerCase) match {
        case Some(v) if v.equalsIgnoreCase("null") => None
        case Some(v) => canonValue(v, pf.dataType)
        case None => None
      }
    }
  }

  /** The default warehouse dir of one partition (key=value path with
    * URL-escaped values, __HIVE_DEFAULT_PARTITION__ for NULL).
    */
  private def defaultPartPath(t: Tbl, key: Seq[Option[String]]): String =
    t.baseLocation + "/" + t.partSchema.fields.toSeq.zip(key).map {
      case (pf, v) =>
        pf.name.toLowerCase + "=" + v.map(s =>
          java.net.URLEncoder.encode(s, "UTF-8"))
          .getOrElse("__HIVE_DEFAULT_PARTITION__")
    }.mkString("/")

  /** A new partition PINS the table's serde at creation time — a later
    * table-level SET ROW FORMAT changes only FUTURE partitions
    * (alter-table.test "ensure no partition changes"; unpartitioned
    * tables read through the live table serde instead).
    */
  private def pinnedSerde(t: Tbl): Option[Serde] =
    if (t.partSchema.isEmpty) None else t.tableSerde

  private def addPartition(name: String, specTxt: String,
      loc: Option[String]): Unit = {
    val t = tables(name)
    val key = partKey(t, specTxt)
    if (t.parts.contains(key)) return
    val path = loc.map(resolveDir(t, _)).getOrElse {
      val p = defaultPartPath(t, key); ensureDir(p, t.rawMode); p
    }
    t.parts(key) = (path, pinnedSerde(t))
    t.partFmt(key) = t.format
  }

  /** Resolve a LOCATION to a directory path in the store, creating an
    * entry if the path is new. Paths under a replicated warehouse
    * dataset materialize that dataset's (partition-filtered) rows —
    * `alltypes_seq_snap/year=2009/month=4` and friends are
    * format-variant dirs of the same generator data.
    */
  private def resolveDir(owner: Tbl, loc: String): String = {
    val n = normLoc(loc)
    if (!dirs.contains(n)) {
      val segs = n.split('/')
      val base = segs.head.replaceAll(
        "_(seq|rc|avro|parquet|orc|text)(_[a-z0-9]+)*$", "")
      val dataset =
        if (tables.exists { case (_, t) => n == t.baseLocation ||
          n.startsWith(t.baseLocation + "/") }) None
        else scala.util.Try(spark.table(base)).toOption
      dataset match {
        case Some(df) =>
          val filters = segs.tail.filter(_.contains("="))
            .map { s => val Array(k, v) = s.split("=", 2); (k, v) }
          val filtered = filters.foldLeft(df) { case (d, (k, v)) =>
            d.where(org.apache.spark.sql.functions.col(k) === v)
          }
          val pcols = datasetPartCols.getOrElse(base.toLowerCase, Nil)
          val fixed = filtered.select(filtered.columns
            .filterNot(c => pcols.contains(c.toLowerCase))
            .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
          dirs(n) = Fixed(fixed)
          // the dataset dir holds one loaded file; SHOW TABLE STATS
          // reports its text-writer byte size
          val bytes = sources.ImpalaTextFormat.fileBytes(
            fixed.collect().toSeq)
          dirFiles(n) = if (bytes > 0) Vector(bytes) else Vector.empty
        case None => ensureDir(n, owner.rawMode)
      }
    }
    n
  }

  private def setLocation(name: String, partSpec: Option[String],
      loc: String): Unit = {
    val t = tables(name)
    partSpec match {
      case Some(spec) =>
        val key = partKey(t, spec)
        if (t.parts.contains(key))
          t.parts(key) = (resolveDir(t, loc), t.parts(key)._2)
      case None =>
        // table-level SET LOCATION does not move existing partitions
        // (alter-table.test change_loc); for an UNPARTITIONED table the
        // single "partition" IS the table dir, so its data follows
        if (t.partSchema.isEmpty)
          t.parts(Nil) = (resolveDir(t, loc), t.parts(Nil)._2)
        t.baseLocation = normLoc(loc)
        t.locStyleDb = loc.contains("$DATABASE") ||
          loc.contains("/db/") || !loc.contains("test-warehouse")
    }
  }

  private def dropPartitions(name: String, predTxt: String): Unit = {
    val t = tables(name)
    if (t.partSchema.isEmpty) { lastMessage = None; return }
    // a comma-separated partition SPEC is a conjunction
    // (AlterTableDropPartitionStmt accepts both spec and predicate
    // forms); Impala matches the DEFAULT partition on `col=NULL` and
    // `col=''` (empty string maps to the null partition)
    val pred = SqlText.split(predTxt).map(_.trim)
      .filter(_.nonEmpty).mkString(" AND ")
      .replaceAll("(?i)=\\s*NULL\\b", " IS NULL")
      .replaceAll("=\\s*''", " IS NULL")
    val keys = t.parts.keys.toSeq
    if (keys.isEmpty) return
    val rows = keys.zipWithIndex.map { case (k, i) => Row.fromSeq(
      k.zip(t.partSchema.fields).map { case (v, pf) =>
        v.map(s => castValue(s, pf.dataType)).orNull
      } :+ i) }
    // force nullability: partition fields cloned from a fixture view
    // can carry nullable=false, under which the NULL partition's key
    // silently reads as 0 and `col IS NULL` never matches
    val schema = StructType(t.partSchema.fields.map(f =>
      StructField(f.name, f.dataType, nullable = true)) :+
      StructField("__idx", IntegerType))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    val hit = df.where(pred).collect().map(_.getInt(schema.length - 1))
    hit.sorted.reverse.foreach(i => t.parts.remove(keys(i)))
    lastMessage = Some(s"Dropped ${hit.length} partition(s).")
  }

  private def castValue(s: String, dt: DataType): Any = dt match {
    case IntegerType => Integer.valueOf(s.trim)
    case LongType => java.lang.Long.valueOf(s.trim)
    case ShortType => java.lang.Short.valueOf(s.trim)
    case DoubleType => java.lang.Double.valueOf(s.trim)
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.parse(s))
    case _ => s
  }

  /** CTAS: schema from the source; `PARTITIONED BY (names)` moves the
    * NAMED source columns into the partition schema (CreateTableAsSelect
    * analysis — partition columns must exist in the select list).
    */
  private def ctas(name: String, partsTxt: Option[String],
      sourceTxt: String, fmt: Option[String] = None): Unit = {
    val src = ImpalaDialect.sql(spark, sourceTxt)
    val partNames = partsTxt.map(_.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val dataFields = src.schema.fields.filterNot(f =>
      partNames.contains(f.name.toLowerCase))
    val partFields = partNames.flatMap(p =>
      src.schema.fields.find(_.name.equalsIgnoreCase(p)))
    val t = new Tbl(StructType(dataFields), StructType(partFields), name, None)
    t.format = fmtName(fmt)
    tables(name) = t
    if (partFields.isEmpty) {
      ensureDir(name, raw = false)
      t.parts(Nil) = (name, None)
      store(t, Nil, positional(src.select(dataFields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name)): _*), t.dataSchema),
        overwrite = true)
    } else {
      // bind partition values BY NAME (CTAS partition columns may sit
      // anywhere in the select list)
      val reordered = src.select((dataFields ++ partFields).toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name)): _*)
      val nData = dataFields.length
      reordered.collect().groupBy { r =>
        partFields.toSeq.zipWithIndex.map { case (pf, j) =>
          if (r.isNullAt(nData + j)) None
          else {
            val s = String.valueOf(r.get(nData + j))
            if (s.isEmpty) None else Some(s)
          }
        }
      }.foreach { case (key, rs) =>
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              rs.toSeq.map(r => Row.fromSeq(r.toSeq.take(nData)))).asJava),
          StructType(reordered.schema.fields.take(nData)))
        store(t, key, positional(df, t.dataSchema), overwrite = true)
      }
    }
    publish(name)
  }

  /** DELETE FROM t [WHERE pred] — per partition: keep the rows where
    * the predicate is FALSE or NULL (full-ACID delete deltas;
    * the predicate may reference partition columns).
    */
  private def deleteWhere(name: String, pred: Option[String]): Unit = {
    val t = tables(name)
    val p = pred.getOrElse("true")
    t.parts.foreach { case (key, (path, _)) =>
      val base = contentDf(t, key)
      val withParts = t.partSchema.fields.toSeq.zipWithIndex
        .foldLeft(base) { case (d, (pf, i)) =>
          d.withColumn(pf.name,
            org.apache.spark.sql.functions.lit(key(i).orNull)
              .cast(pf.dataType))
        }
      val kept = withParts.where(s"NOT coalesce(($p), false)")
        .select(t.dataSchema.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name)).toSeq: _*)
      val rows = kept.collect()
      dirs(path) = Rows(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
        t.dataSchema))
    }
  }

  /** UPDATE t SET col = expr[, ...] [WHERE pred] — rewrite matching
    * rows in place, partition by partition.
    */
  private def updateSet(name: String, setTxt: String,
      pred: Option[String]): Unit = {
    val t = tables(name)
    val p = pred.getOrElse("true")
    val assigns = SqlText.split(setTxt).map(_.trim).filter(_.nonEmpty)
      .flatMap { a =>
        val i = a.indexOf('=')
        if (i < 0) None else Some(a.take(i).trim.toLowerCase -> a.drop(i + 1).trim)
      }.toMap
    t.parts.foreach { case (key, (path, _)) =>
      val base = contentDf(t, key)
      val withParts = t.partSchema.fields.toSeq.zipWithIndex
        .foldLeft(base) { case (d, (pf, i)) =>
          d.withColumn(pf.name,
            org.apache.spark.sql.functions.lit(key(i).orNull)
              .cast(pf.dataType))
        }
      val updated = withParts.selectExpr(t.dataSchema.fields.toSeq.map { f =>
        assigns.get(f.name.toLowerCase) match {
          case Some(e) =>
            s"CAST(CASE WHEN coalesce(($p), false) THEN ($e) " +
              s"ELSE `${f.name}` END AS ${f.dataType.sql}) AS `${f.name}`"
          case None => s"`${f.name}`"
        }
      }: _*)
      val rows = updated.collect()
      dirs(path) = Rows(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
        t.dataSchema))
    }
  }

  /** `WITH ctes INSERT … SELECT` (Impala allows a WITH clause over an
    * insert — insert.test's t1/t2 blocks): fold the leading CTEs into
    * the insert's source query so [[insertRe]] sees a plain INSERT;
    * when the source carries its own WITH, the CTE lists merge.
    */
  private def foldWithInsert(s: String): String = {
    val lower = s.toLowerCase
    if (!lower.trim.startsWith("with")) return s
    var depth = 0
    var i = 0
    var quote: Char = 0
    var at = -1
    while (i < s.length && at < 0) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'i' | 'I' if depth == 0 && lower.startsWith("insert", i) &&
            (i == 0 || !Character.isLetterOrDigit(lower.charAt(i - 1))) =>
          at = i
        case _ =>
      }
      i += 1
    }
    if (at < 0) return s
    val cteBody = s.substring(0, at).trim.drop(4) // strip "with"
    s.substring(at) match {
      case insertRe(mode, name, colList, partSpec, source) =>
        val src2 =
          if (source.trim.toLowerCase.startsWith("with"))
            "WITH " + cteBody + ", " + source.trim.drop(4)
          else "WITH " + cteBody + " " + source
        s"INSERT $mode $name" +
          Option(colList).map(c => s" ($c)").getOrElse("") +
          Option(partSpec).map(p => s" PARTITION ($p)").getOrElse("") +
          " " + src2
      case _ => s
    }
  }

  /** Reference data-load file counts for fixtures the stats registry
    * does not model (one text file per loaded partition).
    */
  private val refLayoutFiles = Map(
    "alltypes" -> 24, "alltypessmall" -> 4, "alltypestiny" -> 4,
    "alltypesagg" -> 11)

  private def insert(name: String, overwrite: Boolean,
      partSpec: Option[String], sourceTxt0: String,
      colList: Option[Seq[String]] = None): Unit = {
    val t = tables(name)
    // an Impala insert hint between the target and the source
    // (`insert into t partition(p) /*+noclustered*/ select …`) is a
    // physical-layout knob — drop it before parsing
    val sourceTxt = sourceTxt0.replaceAll("""^\s*/\*\+[^*]*\*/\s*""", "")
      .replaceAll("""^\s*\[\s*\w+\s*\]\s*""", "")
    val srcRaw =
      // an insert with NO query statement (`insert into t()
      // PARTITION(p1=10)`) writes one all-defaults row
      if (sourceTxt.trim.isEmpty) spark.range(1).select()
      else ImpalaDialect.sql(spark,
        if (sourceTxt.trim.toLowerCase.startsWith("values"))
          s"SELECT * FROM ($sourceTxt)"
        else sourceTxt)
    // column permutation (InsertStmt.java): the listed data columns
    // bind the leading source columns positionally, unlisted data
    // columns fill NULL, dynamic partition columns keep taking the
    // TRAILING source columns
    val (src0, listedParts) = colList match {
      case None => (srcRaw, Nil)
      case Some(cols) =>
        import org.apache.spark.sql.functions.{col, lit}
        val renamed = srcRaw.toDF(
          srcRaw.columns.indices.map(j => s"__cl$j"): _*)
        val posOf = cols.zipWithIndex.toMap
        val dataCols = t.dataSchema.fields.toSeq.map { f =>
          posOf.get(f.name.toLowerCase) match {
            case Some(j) if j < renamed.columns.length =>
              col(renamed.columns(j)).cast(f.dataType).as(f.name)
            case _ => lit(null).cast(f.dataType).as(f.name)
          }
        }
        // PARTITION columns named in the permutation list
        // (insert_permutation.test) ride as trailing dynamic columns
        // in partition-schema order
        val partListed = t.partSchema.fields.toSeq
          .filter(f => posOf.contains(f.name.toLowerCase))
        val partCols = partListed.map(f =>
          col(renamed.columns(posOf(f.name.toLowerCase)))
            .cast(f.dataType).as(f.name))
        val trailing = renamed.columns.drop(cols.length).toSeq.map(col(_))
        (renamed.select(dataCols ++ partCols ++ trailing: _*),
          partListed.map(_.name.toLowerCase))
    }
    // Hive FileUtils.escapePathName: a fixed special-char set escapes
    // as %XX (slash, colon, brackets…); spaces stay literal
    // (`year=2010 /day=7`), unlike URL encoding
    def hiveEscape(s: String): String = {
      val special = "\"#%'*/:=?\\{[]^"
      s.flatMap { c =>
        if (c < ' ' || special.indexOf(c) >= 0) f"%%${c.toInt}%02X"
        else c.toString
      }
    }
    def reportLine(key: Seq[Option[String]], n: Long): String =
      t.partSchema.fields.toSeq.zip(key).map { case (pf, v) =>
        pf.name.toLowerCase + "=" + v.map(hiveEscape)
          .getOrElse("__HIVE_DEFAULT_PARTITION__") + "/"
      }.mkString + ": " + n
    if (t.partSchema.isEmpty) {
      val data = positional(src0, t.dataSchema)
      val n = data.count()
      // writer-instance model of the reference 3-node minicluster: an
      // INSERT…SELECT runs one writer per node holding scan ranges —
      // min(3, source file count) files; a VALUES insert (or a
      // single-file source like tinytable) writes one
      // (truncate-table.test pins 1, compute-stats.test pins 3)
      val lt = sourceTxt.trim.toLowerCase
      val srcFiles =
        if (lt.startsWith("values")) 1
        else "\\bfrom\\s+([a-z_][\\w.]*)".r.findFirstMatchIn(lt)
          .map(_.group(1).split('.').last
            // fixture-alias spellings (__fx_<db>__name) fold back
            .replaceAll("^__fx_\\w*?__", "")) match {
            case Some(src) => refLayoutFiles.get(src)
              .orElse(ImpalaStats.lookup(src).map(_._1.partitions())
                .filter(ps => ps.nonEmpty &&
                  ps.forall(_.fileBytes.nonEmpty))
                .map(_.map(_.fileBytes.length).sum))
              .getOrElse(1)
            case None => 1
          }
      val writers = math.max(1, math.min(3, srcFiles))
      store(t, Nil, data, overwrite,
        writerFiles = if (n >= writers) writers else 1)
      lastInsertReport = Seq(": " + n)
      return
    }
    // static entries bind by name; dynamic partition columns take the
    // trailing source columns (InsertStmt.java)
    val entries = partSpec.map(SqlText.split(_)
      .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val static = entries.filter(_.contains("=")).map { e =>
      val i = e.indexOf('=')
      e.take(i).trim.toLowerCase.stripPrefix("`").stripSuffix("`") ->
        e.drop(i + 1).trim
    }.toMap
    val dyn = entries.filterNot(_.contains("="))
      .map(_.trim.toLowerCase.stripPrefix("`").stripSuffix("`")) ++
      listedParts
    val nData = t.dataSchema.length
    if (dyn.isEmpty) {
      // bind by ordinal under fresh names — constant select lists may
      // repeat output names ("1","1"), ambiguous for a by-name select
      val ren = src0.toDF(src0.columns.indices.map(j => s"__s$j"): _*)
      val data = positional(ren.select(ren.columns.take(nData)
        .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*),
        t.dataSchema)
      val key = t.partSchema.fields.toSeq.map { pf =>
        static.get(pf.name.toLowerCase) match {
          case Some(v) if v.equalsIgnoreCase("null") => None
          case Some(v) => canonValue(v, pf.dataType)
          case None => None
        }
      }
      val n = data.count()
      store(t, key, data, overwrite)
      lastInsertReport = Seq(reportLine(key, n))
    } else {
      // dynamic columns are the source columns AFTER the data columns;
      // their values cast to the partition COLUMN type before
      // canonicalization (a 0.0 decimal literal into a FLOAT column
      // names the partition `float_col=0`)
      val dynIdx = dyn.zipWithIndex.map { case (d, j) => d -> (nData + j) }.toMap
      val dynTypes: Map[Int, DataType] = dynIdx.flatMap { case (nm, i) =>
        t.partSchema.fields.find(_.name.equalsIgnoreCase(nm))
          .map(f => i -> f.dataType)
      }
      val renamed = src0.toDF(
        src0.columns.indices.map(j => s"__c$j"): _*)
      val casted = renamed.select(
        renamed.columns.zipWithIndex.map { case (nm, j) =>
          dynTypes.get(j) match {
            case Some(dt) =>
              org.apache.spark.sql.functions.col(nm).cast(dt).as(nm)
            case None => org.apache.spark.sql.functions.col(nm)
          }
        }.toIndexedSeq: _*)
      val rows = casted.collect()
      val grouped = rows.groupBy { r =>
        t.partSchema.fields.toSeq.map { pf =>
          static.get(pf.name.toLowerCase) match {
            case Some(v) if v.equalsIgnoreCase("null") => None
            case Some(v) => canonValue(v, pf.dataType)
            case None =>
              val i = dynIdx(pf.name.toLowerCase)
              if (r.isNullAt(i)) None
              else {
                val s = sources.ImpalaTextFormat
                  .render(r.get(i)).getOrElse("")
                if (s.isEmpty) None else Some(s)
              }
          }
        }
      }
      val report = scala.collection.mutable.ArrayBuffer.empty[String]
      grouped.foreach { case (key, rs) =>
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              rs.toSeq.map(r => Row.fromSeq(r.toSeq.take(nData)))).asJava),
          StructType(src0.schema.fields.take(nData)))
        store(t, key, positional(df, t.dataSchema), overwrite)
        report += reportLine(key, rs.length.toLong)
      }
      lastInsertReport = report.toSeq
    }
  }

  /** Bind source columns to `schema` positionally (Impala resolves
    * data-file fields by ordinal) — carrying each field's metadata so
    * column COMMENTs survive into the published view for DESCRIBE. An
    * uncastable reinterpretation reads NULL.
    */
  private def positional(df0: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // bind by ORDINAL under fresh names — a source select list may
    // carry duplicate output names (two bare NULL literals), which a
    // by-name lookup would reject as ambiguous
    val df = df0.toDF(df0.columns.indices.map(j => s"__p$j"): _*)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val c =
        if (i < df.columns.length &&
            org.apache.spark.sql.catalyst.expressions.Cast.canCast(
              df.schema.fields(i).dataType, f.dataType))
          col(df.columns(i)).cast(f.dataType)
        else lit(null).cast(f.dataType)
      c.as(f.name, f.metadata)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Write into the partition's directory: serde tables append/replace
    * serialized text; others replace/extend the row snapshot.
    */
  private def store(t: Tbl, key: Seq[Option[String]], data: DataFrame,
      overwrite: Boolean, writerFiles: Int = 1): Unit = {
    if (!t.parts.contains(key)) {
      val p = defaultPartPath2(t, key)
      ensureDir(p, t.rawMode)
      t.parts(key) = (p, pinnedSerde(t))
      t.partFmt(key) = t.format
    }
    // a write staleness-marks the partition's incremental stats
    tables.collectFirst { case (n, tt) if tt eq t => n }
      .foreach(ImpalaStats.invalidatePartition(_, key))
    val (path, serdeOverride) = t.parts(key)
    if (t.rawMode) {
      val eff = serdeOverride.orElse(t.tableSerde).getOrElse(Serde("", "\n"))
      val txt = data.collect().map(_.toSeq.map {
        case null => "\\N"
        case v => String.valueOf(v)
      }.mkString(eff.fieldDelim)).map(_ + eff.lineDelim).mkString
      val sb = dirs.get(path) match {
        case Some(Raw(b)) if !overwrite => b
        case _ => new StringBuilder
      }
      sb.append(txt)
      dirs(path) = Raw(sb)
      val bytes = txt.getBytes("UTF-8").length.toLong
      val prior = if (overwrite) Vector.empty[Long]
        else dirFiles.getOrElse(path, Vector.empty)
      dirFiles(path) = prior ++ splitBytes(bytes, writerFiles)
    } else {
      val merged = dirs.get(path) match {
        case Some(Rows(old)) if !overwrite && old.schema.nonEmpty =>
          // the existing snapshot may predate a schema alter — rebind
          // it positionally to the CURRENT schema before the union
          positional(old, t.dataSchema).unionAll(data)
        case _ => data
      }
      // pin the rows now — sources may be mutated tables/views later
      val rows = merged.collect()
      dirs(path) = Rows(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
        merged.schema))
      // the ledger renders the rows' Impala text-writer bytes
      // (non-text formats get the same model — their SIZE cells are
      // documented deltas where pinned). `writerFiles` models the
      // reference environment's insert fragment instances: a
      // scan-distributed INSERT…SELECT on the 3-node minicluster
      // writes one file per node (compute-stats.test pins #FILES=3),
      // a coordinator-only VALUES insert writes one.
      val bytes = sources.ImpalaTextFormat.fileBytes(data.collect().toSeq)
      val prior = if (overwrite) Vector.empty[Long]
        else dirFiles.getOrElse(path, Vector.empty)
      dirFiles(path) = prior ++ splitBytes(bytes, writerFiles)
    }
  }

  /** One ledger entry per writer instance, sizes summing exactly. */
  private def splitBytes(bytes: Long, writerFiles: Int): Vector[Long] =
    if (bytes <= 0) Vector.empty
    else if (writerFiles <= 1) Vector(bytes)
    else {
      val each = bytes / writerFiles
      Vector.fill(writerFiles - 1)(each) :+
        (bytes - each * (writerFiles - 1))
    }

  private def defaultPartPath2(t: Tbl, key: Seq[Option[String]]): String =
    if (t.partSchema.isEmpty) t.baseLocation else defaultPartPath(t, key)

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  /** Parse raw serde bytes per the delimited-text scanner: rows split
    * on the line delimiter (an unterminated final piece is still a
    * row); fields on the field delimiter; a missing trailing field is
    * NULL — except that on the FINAL unterminated row the LAST column
    * materializes as a zero-length field, which for STRING is the
    * empty string (text-converter.inline.h WriteSlot len==0 rule; the
    * IMPALA-4323 golden pins ('\x01', NULL, '')).
    */
  private def parseRaw(raw: String, serde: Serde,
      schema: StructType): Seq[Seq[Any]] = {
    if (raw.isEmpty || serde.lineDelim.isEmpty) return Nil
    val terminated = raw.endsWith(serde.lineDelim)
    val pieces0 = splitAll(raw, serde.lineDelim)
    val pieces = if (terminated) pieces0.dropRight(1) else pieces0
    pieces.zipWithIndex.map { case (line, i) =>
      val isFinalUnterminated = !terminated && i == pieces.length - 1
      val fs =
        if (serde.fieldDelim.isEmpty) Seq(line)
        else splitAll(line, serde.fieldDelim)
      schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
        val v: Option[String] =
          if (j < fs.length) Some(fs(j))
          else if (isFinalUnterminated && j == schema.length - 1) Some("")
          else None
        v match {
          case Some("\\N") => null
          case Some(s) => f.dataType match {
            case _: StringType => s
            case other =>
              if (s.isEmpty) null
              else scala.util.Try(castValue(s, other)).getOrElse(null)
          }
          case None => null
        }
      }
    }
  }

  private def splitAll(s: String, delim: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = s.indexOf(delim)
    while (i >= 0) {
      out += s.substring(start, i)
      start = i + delim.length
      i = s.indexOf(delim, start)
    }
    out += s.substring(start)
    out.toSeq
  }

  private def contentDf(t: Tbl, key: Seq[Option[String]]): DataFrame =
    t.parts.get(key) match {
      case Some((path, serdeOverride)) =>
        dirs.get(path) match {
          case Some(Rows(df)) => positional(df, t.dataSchema)
          case Some(Fixed(df)) => positional(df, t.dataSchema)
          case Some(Raw(sb)) =>
            val serde = serdeOverride.orElse(t.tableSerde)
              .getOrElse(Serde("", "\n"))
            val rows = parseRaw(sb.toString, serde, t.dataSchema)
            spark.createDataFrame(
              new java.util.ArrayList[Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(
                  rows.map(Row.fromSeq)).asJava), t.dataSchema)
          case None => emptyRows(t.dataSchema).df
        }
      case None => emptyRows(t.dataSchema).df
    }

  private def publish(name: String): Unit = {
    import org.apache.spark.sql.functions.lit
    val t = tables(name)
    val parts = t.parts.keys.toSeq
    val dfs = parts.map { key =>
      val base = contentDf(t, key)
      t.partSchema.fields.toSeq.zipWithIndex.foldLeft(base) {
        case (d, (pf, i)) =>
          d.withColumn(pf.name,
            lit(key(i).orNull).cast(pf.dataType))
      }
    }
    val full = StructType(t.dataSchema.fields ++ t.partSchema.fields)
    val view =
      if (t.staleAvroScan) {
        // scan metadata lacks the Avro schema — every scan shape
        // (including column-free count(*), via the filter) raises
        val msg = "Missing Avro schema in scan node. " +
          "This could be due to stale metadata. Running " +
          "'invalidate metadata <tablename>' may resolve the problem."
        def raiseCol(dt: DataType) = org.apache.spark.sql.graft.Bridge
          .column(graft.functions.ImpalaRaiseOnRead(msg, dt))
        spark.range(1).filter(raiseCol(BooleanType))
          .select(full.fields.toSeq.map(f =>
            raiseCol(f.dataType).as(f.name)): _*)
      } else if (dfs.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), full)
      else dfs.reduce(_ unionAll _)
    view.createOrReplaceTempView(name)
    published += name
    registerStats(name)
  }

  /** Keep the stats catalog's physical model in sync (partition
    * listing + file ledger feed SHOW TABLE STATS; the published view
    * is COMPUTE STATS' scan target). Qualified keys (cross-db renames)
    * have no temp view — their scan target is empty.
    */
  private def registerStats(name: String): Unit =
    ImpalaStats.register(ImpalaStats.Model(
      name,
      () => tables.get(name).map(_.dataSchema).getOrElse(new StructType()),
      () => tables.get(name).map(_.partSchema).getOrElse(new StructType()),
      () => tables.get(name).map { tt =>
        tt.parts.toSeq.map { case (key, (path, _)) =>
          // render the warehouse location the way the reference's
          // goldens spell it (the runner leaves $NAMENODE/$DATABASE
          // unsubstituted in our loader, so the literal text compares)
          ImpalaStats.Partition(key,
            dirFiles.getOrElse(path, Vector.empty),
            tt.partFmt.getOrElse(key, tt.format),
            (if (tt.locStyleDb) "$NAMENODE/test-warehouse/$DATABASE.db/"
            else "$NAMENODE/test-warehouse/") + path)
        }
      }.getOrElse(Nil),
      () => scala.util.Try(spark.table(name)).getOrElse(
        spark.createDataFrame(new java.util.ArrayList[Row](),
          tables.get(name).map(t =>
            StructType(t.dataSchema.fields ++ t.partSchema.fields))
            .getOrElse(new StructType()))),
      hbaseRegions =
        tables.get(name).map(_.hbaseRegions).getOrElse(Nil)))
}
