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

  /** Databases of the warehouse model (CREATE/DROP DATABASE —
    * `CatalogOpExecutor.createDatabase`). DESCRIBE DATABASE renders the
    * reference's location spellings verbatim (the runner-variable
    * forms $NAMENODE/$EXTERNAL_WAREHOUSE_DIR…, which the goldens carry
    * unsubstituted here); HIVE-24175: a specified managedlocation is
    * ignored, the default always prints.
    */
  final case class DbInfo(comment: String, location: Option[String],
      params: Seq[(String, String)] = Nil)
  val dbRegistry =
    scala.collection.mutable.LinkedHashMap.empty[String, DbInfo]

  /** Per-db registered functions: (signature, return type, aggregate?)
    * — SHOW [AGGREGATE] FUNCTIONS IN db renders them
    * (`fe/.../service/Frontend.getFunctions`).
    */
  val fnRegistry = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[(String, String, Boolean)]]

  /** A representative _impala_builtins inventory by kind (scalar /
    * aggregate / analytic) — the SHOW FUNCTIONS IN _impala_builtins
    * subset/not-in probes pin these (functions-ddl.test; the full
    * surface is asserted in SurfaceSpec).
    */
  private val builtinFns: Seq[(String, String, String)] = Seq(
    // (kind, return type, signature)
    ("scalar", "STRING", "upper(STRING)"),
    ("scalar", "STRING", "lower(STRING)"),
    ("scalar", "DOUBLE", "sin(DOUBLE)"),
    ("scalar", "DOUBLE", "cos(DOUBLE)"),
    ("scalar", "BIGINT", "length(STRING)"),
    ("scalar", "STRING", "concat(STRING...)"),
    ("scalar", "DOUBLE", "abs(DOUBLE)"),
    ("aggregate", "DOUBLE", "avg(BIGINT)"),
    ("aggregate", "DOUBLE", "avg(DOUBLE)"),
    ("aggregate", "BIGINT", "count()"),
    ("aggregate", "STRING", "group_concat(STRING)"),
    ("aggregate", "BIGINT", "sum(INT)"),
    ("aggregate", "BIGINT", "ndv(INT)"),
    ("analytic", "BIGINT", "rank()"),
    ("analytic", "BIGINT", "dense_rank()"),
    ("analytic", "BIGINT", "row_number()"),
    ("analytic", "DOUBLE", "percent_rank()"))

  /** Hive-metastore table metadata twin for DESCRIBE FORMATTED over
    * modeled (non-Iceberg) tables: the table-parameters map (Impala
    * writes sort.columns / sort.order / user TBLPROPERTIES there —
    * `AlterTableSortByStmt`, `TableDef.analyzeSortColumns`) plus the
    * storage format (Avro columns DESCRIBE with the `from
    * deserializer` comment Hive's serde reports).
    */
  final class TableMeta(var format: String = "TEXT") {
    val params: scala.collection.mutable.LinkedHashMap[String, String] =
      scala.collection.mutable.LinkedHashMap.empty
  }
  val tableMeta =
    scala.collection.mutable.LinkedHashMap.empty[String, TableMeta]

  private val describeDbRe =
    ("""(?is)^\s*describe\s+database\s+((?:extended|formatted)\s+)?""" +
      """([A-Za-z_]\w*)\s*;?\s*$""").r
  private val describeFormattedRe =
    """(?is)^\s*describe\s+(?:formatted|extended)\s+([A-Za-z_]\w*(?:\.\w+)?)\s*;?\s*$""".r
  private val describeHistoryRe =
    ("""(?is)^\s*describe\s+history\s+""" +
      """((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*;?\s*$""").r

  /** Iceberg tables of the warehouse model: physical layout dir +
    * the MODEL location/properties the observability statements
    * render (`fe/.../analysis/DescribeTableStmt.java`,
    * `IcebergUtil.java`). Populated by the harness sim or by a user
    * registering a layout-backed table.
    */
  final class IcebergTbl(
      val dir: String, val location: String, val external: Boolean,
      val props: scala.collection.mutable.LinkedHashMap[String, String],
      var owner: String = "impala", var ownerType: String = "USER")
  val icebergRegistry =
    scala.collection.mutable.LinkedHashMap.empty[String, IcebergTbl]

  /** Registered user-function overloads with the detail SHOW CREATE
    * FUNCTION regenerates (`fe/.../catalog/Function.toSql(true)`):
    * the resolved — mangled — symbols derive from the C++ signatures
    * via [[graft.functions.ItaniumMangle]].
    */
  final case class FnOverload(aggregate: Boolean, argsSql: String,
      retSql: String, location: Option[String], symbol: String)
  val fnDetails = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[FnOverload]]
  private val showCreateFnRe =
    ("""(?is)^\s*show\s+create\s+(?:aggregate\s+)?function\s+""" +
      """([\w$]+\.)?([A-Za-z_]\w*)\s*;?\s*$""").r

  /** The shipped test UDA libraries' exported families (udasample.cc /
    * test-udas.cc): symbols absent from the binary render no line.
    */
  private val udaMissingParts: Map[String, Set[String]] =
    Map("TwoArg" -> Set("FINALIZE"))

  private def showCreateFunction(spark: SparkSession, db0: String,
      name: String): Option[DataFrame] = {
    import graft.functions.ItaniumMangle
    val db = Option(db0).map(_.stripSuffix(".")).getOrElse("")
    if (db.equalsIgnoreCase("_impala_builtins")) {
      // builtins: member symbols of impala::MathFunctions /
      // impala::AggregateFunctions, derived by the same mangler
      // (AvgUpdate<T> via member-template mangling); overload shapes
      // per BuiltinsDb.java's avg registration
      import ItaniumMangle.{ConstRef, Ptr, TRef}
      val aggFns = ("impala", "AggregateFunctions")
      def member(nm: String, params: Seq[ItaniumMangle.Param],
          targ: Option[String] = None): String =
        ItaniumMangle.mangle(nm,
          Ptr("FunctionContext") +: params, Some(aggFns), targ)
      if (name.equalsIgnoreCase("sin")) {
        val sym = ItaniumMangle.mangle("Sin",
          Seq(Ptr("FunctionContext"), ConstRef("DoubleVal")),
          Some(("impala", "MathFunctions")))
        return Some(strDf(spark, Seq("result"), Seq(Seq(
          s"CREATE FUNCTION _impala_builtins.sin(DOUBLE)\n" +
            s" RETURNS DOUBLE\n SYMBOL='$sym'\n"))))
      }
      if (!name.equalsIgnoreCase("avg")) return None
      val inter = "StringVal"
      def upd(tpl: Option[String], nm: String, arg: String): String =
        tpl match {
          case Some(t) => member("AvgUpdate",
            Seq(TRef, Ptr(inter)), Some(t))
          case None => member(nm, Seq(ConstRef(arg), Ptr(inter)))
        }
      case class Ov(argSql: String, retSql: String, size: Int,
        tpl: Option[String], updNm: String, argVal: String,
        initNm: String, mergeNm: String, finNm: String)
      val overloads = Seq(
        Ov("BIGINT", "DOUBLE", 16, Some("BigIntVal"), "", "",
          "AvgInit", "AvgMerge", "AvgFinalize"),
        Ov("DECIMAL(*,*)", "DECIMAL(*,*)", 24, None,
          "DecimalAvgUpdate", "DecimalVal", "DecimalAvgInit",
          "DecimalAvgMerge", "DecimalAvgFinalize"),
        Ov("DOUBLE", "DOUBLE", 16, Some("DoubleVal"), "", "",
          "AvgInit", "AvgMerge", "AvgFinalize"),
        Ov("TIMESTAMP", "TIMESTAMP", 16, None, "TimestampAvgUpdate",
          "TimestampVal", "AvgInit", "AvgMerge",
          "TimestampAvgFinalize"))
      val stmts = overloads.map { o =>
        s"CREATE AGGREGATE FUNCTION _impala_builtins.avg(${o.argSql})\n" +
          s" RETURNS ${o.retSql}\n" +
          s" INTERMEDIATE FIXED_UDA_INTERMEDIATE(${o.size})\n" +
          s" LOCATION 'null'\n" +
          s" UPDATE_FN='${upd(o.tpl, o.updNm, o.argVal)}'\n" +
          s" INIT_FN='${member(o.initNm, Seq(Ptr(inter)))}'\n" +
          s" MERGE_FN='${member(o.mergeNm,
            Seq(ConstRef(inter), Ptr(inter)))}'\n" +
          s" FINALIZE_FN='${member(o.finNm, Seq(ConstRef(inter)))}'"
      }
      return Some(strDf(spark, Seq("result"),
        Seq(Seq(stmts.mkString(";\n") + "\n"))))
    }
    fnDetails.get(name.toLowerCase).filter(_.nonEmpty).map { ovs =>
      val dbLabel = spark.conf
        .getOption("graft.meta.sessiondb.label")
        .orElse(Option(db).filter(_.nonEmpty)).getOrElse("default")
      val stmts = ovs.map { o =>
        val args = o.argsSql
        val varArgs = args.endsWith("...")
        val argTypes = args.stripSuffix("...").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val loc = o.location.map(l =>
          s" LOCATION '${l.replace("$FILESYSTEM_PREFIX", "$NAMENODE")}'\n")
          .getOrElse("")
        if (!o.aggregate) {
          val sym = ItaniumMangle.udfSymbol(o.symbol, argTypes, varArgs)
          s"CREATE FUNCTION $dbLabel.$name($args)\n RETURNS ${o.retSql}\n" +
            loc + s" SYMBOL='$sym'"
        } else {
          val inter = ItaniumMangle.valClass(o.retSql)
          val prefix = o.symbol.stripSuffix("Update")
          val missing = udaMissingParts.getOrElse(prefix, Set.empty)
          val lines = Seq(
            "UPDATE_FN" ->
              ItaniumMangle.udaUpdate(o.symbol, argTypes, inter),
            "INIT_FN" -> ItaniumMangle.udaInit(prefix + "Init", inter),
            "MERGE_FN" -> ItaniumMangle.udaMerge(prefix + "Merge", inter),
            "FINALIZE_FN" ->
              ItaniumMangle.udaFinalize(prefix + "Finalize", inter))
            .filterNot { case (k, _) =>
              missing(k.stripSuffix("_FN"))
            }
            .map { case (k, v) => s" $k='$v'" }.mkString("\n")
          s"CREATE AGGREGATE FUNCTION $dbLabel.$name($args)\n" +
            s" RETURNS ${o.retSql}\n" + loc + lines
        }
      }
      strDf(spark, Seq("result"),
        Seq(Seq(stmts.mkString(";\n") + "\n")))
    }
  }

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

  private def pad20(s: String): String = s.padTo(20, ' ')

  private def strDf(spark: SparkSession, cols: Seq[String],
      rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => Row(r: _*))).asJava),
      StructType(cols.map(c => StructField(c, StringType))))

  /** Hive's DESCRIBE FORMATTED table layout (key/value/NULL section
    * rows, 20-char-padded parameter rows) for a registered iceberg
    * table — the subset the goldens pin plus the standard sections.
    */
  private def describeFormatted(spark: SparkSession, name0: String)
      : Option[DataFrame] = {
    // the qualifier (when written) names the database; bare names are
    // the session default — not a hardcoded literal
    val parts = name0.split('.')
    val name = parts.last
    val dbName = if (parts.length > 1) parts.head else "default"
    icebergRegistry.get(name.toLowerCase).map { t =>
    val dirPath = java.nio.file.Paths.get(t.dir)
    val schema = scala.util.Try(spark.table(name).schema)
      .getOrElse(sources.IcebergLayout.schemaOf(dirPath))
    val colRows = Seq(
      Seq(pad20("# col_name"), pad20("data_type"), pad20("comment")),
      Seq("", "NULL", "NULL")) ++
      schema.fields.map(f =>
        Seq(pad20(f.name), f.dataType.simpleString, ""))
    val hintV = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      dirPath.resolve("metadata/version-hint.text"))).trim).getOrElse("1")
    val fileFormat = t.props.getOrElse("iceberg.file_format", "parquet")
    val paramRows =
      (t.props.toSeq ++ Seq(
        "iceberg.file_format" -> fileFormat,
        "table_type" -> "ICEBERG",
        "metadata_location" ->
          s"${t.location}/metadata/v$hintV.metadata.json",
        "numRows" -> "-1", "EXTERNAL" -> "TRUE"))
        .distinctBy(_._1)
        .map { case (k, v) => Seq("", pad20(k), pad20(v)) }
    val sectionRows = Seq(
      Seq("", "NULL", "NULL"),
      Seq(pad20("# Detailed Table Information"), "NULL", "NULL"),
      Seq(pad20("Database:"), pad20(dbName), "NULL"),
      Seq(pad20("OwnerType:"), pad20(t.ownerType), "NULL"),
      Seq(pad20("Owner:"), pad20(t.owner), "NULL"),
      Seq(pad20("Location:"), pad20(t.location), "NULL"),
      Seq(pad20("Table Type:"),
        pad20(if (t.external) "EXTERNAL_TABLE" else "MANAGED_TABLE"),
        "NULL"),
      Seq(pad20("Table Parameters:"), "NULL", "NULL")) ++ paramRows
    strDf(spark, Seq("name", "type", "comment"), colRows ++ sectionRows)
    }
  }

  /** DESCRIBE FORMATTED for a [[tableMeta]]-modeled table: column rows
    * (Avro columns carry Hive's `from deserializer` comment), the
    * detailed-information section and the 20-padded Table Parameters
    * rows (MetaDataFormatUtils layout — the goldens verify subsets).
    */
  private def describeFormattedModel(spark: SparkSession, name0: String)
      : Option[DataFrame] = {
    val name = name0.split('.').last.toLowerCase
    tableMeta.get(name).map { tm =>
      val schema = scala.util.Try(spark.table(name).schema)
        .getOrElse(new StructType())
      val colComment = (f: StructField) =>
        if (tm.format.equalsIgnoreCase("AVRO")) "from deserializer"
        else f.getComment().getOrElse("")
      val colRows = Seq(
        Seq(pad20("# col_name"), pad20("data_type"), pad20("comment")),
        Seq("", "NULL", "NULL")) ++
        schema.fields.map(f =>
          Seq(f.name.toLowerCase, typeSql(f.dataType, 0), colComment(f)))
      val paramRows = tm.params.toSeq
        .map { case (k, v) => Seq("", pad20(k), pad20(v)) }
      val sectionRows = Seq(
        Seq("", "NULL", "NULL"),
        Seq(pad20("# Detailed Table Information"), "NULL", "NULL"),
        Seq(pad20("Database:"), pad20("default"), "NULL"),
        Seq(pad20("Table Type:"), pad20("MANAGED_TABLE"), "NULL"),
        Seq(pad20("Table Parameters:"), "NULL", "NULL")) ++ paramRows
      strDf(spark, Seq("name", "type", "comment"), colRows ++ sectionRows)
    }
  }

  /** DESCRIBE HISTORY — Iceberg snapshot log rendered in the session
    * timezone with Impala's 9-digit fraction
    * (`fe/.../service/DescribeResultFactory.java` describeHistory).
    */
  private def describeHistory(spark: SparkSession, name: String)
      : Option[DataFrame] = icebergRegistry.get(name.toLowerCase).map { t =>
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone", "UTC"))
    val rows = sources.IcebergLayout.history(
      java.nio.file.Paths.get(t.dir)).map { case (ms, id, parent, cur) =>
      val ldt = java.time.Instant.ofEpochMilli(ms).atZone(zone)
      val base = ldt.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
      val frac = f".${ms % 1000}%03d000000"
      Seq(base + frac, id.toString,
        parent.map(_.toString).getOrElse("NULL"),
        if (cur) "TRUE" else "FALSE")
    }
    strDf(spark, Seq("creation_time", "snapshot_id", "parent_id",
      "is_current_ancestor"), rows)
  }

  /** SHOW PARTITIONS on an Iceberg table: the partition SPEC
    * (specId, sourceId, fieldId, name, transform) — not directory
    * partitions (`IcebergUtil.java` getPartitionSpec rows).
    */
  private def icebergPartitions(spark: SparkSession, name: String,
      asWritten: String)
      : Option[DataFrame] = icebergRegistry.get(name.toLowerCase).map { t =>
    val spec = sources.IcebergLayout.specOf(java.nio.file.Paths.get(t.dir))
    if (spec.isEmpty)
      throw new IllegalStateException(
        s"AnalysisException: Table is not partitioned: $asWritten")
    val rows = spec.map(f => Row(0L, f.sourceId.toLong, f.fieldId.toLong,
      f.name, f.transform))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("spec_id", LongType),
        StructField("source_id", LongType),
        StructField("field_id", LongType),
        StructField("field_name", StringType),
        StructField("transform", StringType))))
  }

  /** SHOW FILES on an Iceberg table lists every physical file under
    * the table location — data AND metadata chain (iceberg-query.test
    * pins the full 25-file listing), sorted by path.
    */
  private def icebergFiles(spark: SparkSession, name: String)
      : Option[DataFrame] = icebergRegistry.get(name.toLowerCase).map { t =>
    val dir = java.nio.file.Paths.get(t.dir)
    val walk = java.nio.file.Files.walk(dir)
    val rows =
      try {
        scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
          .asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { p =>
            val rel = dir.relativize(p).toString
              .replace(java.io.File.separatorChar, '/')
            Seq(s"${t.location}/$rel",
              ImpalaStats.printBytes(java.nio.file.Files.size(p)), "")
          }.toSeq.sortBy(_.head)
      } finally walk.close()
    strDf(spark, Seq("Path", "Size", "Partition"), rows)
  }
  private val showFunctionsRe =
    ("""(?is)^\s*show\s+(aggregate\s+|analytic\s+)?functions""" +
      """(?:\s+in\s+([$\w]+))?\s*;?\s*$""").r

  private def describeDb(spark: SparkSession, extended: Boolean,
      db: String): Option[DataFrame] = {
    val lower = db.toLowerCase
    val info =
      if (lower == "default") Some(DbInfo("Default Hive database",
        Some("$NAMENODE/$EXTERNAL_WAREHOUSE_DIR")))
      else dbRegistry.get(lower)
    info.map { i =>
      val ext = i.location.getOrElse(
        s"$$NAMENODE/$$EXTERNAL_WAREHOUSE_DIR/$lower.db")
      val managed =
        if (lower == "default") "$NAMENODE/$MANAGED_WAREHOUSE_DIR"
        else s"$$NAMENODE/$$MANAGED_WAREHOUSE_DIR/$lower.db"
      val rows = Seq(Row(lower, ext, i.comment),
        Row("managedlocation:", managed, "")) ++
        (if (extended)
          (if (i.params.nonEmpty)
            Row("Parameter: ", "", "") +:
              i.params.sortBy(_._1).map(p => Row("", p._1, p._2))
          else Nil) ++
            Seq(Row("Owner: ", "", ""), Row("", "$USER", "USER"))
        else Nil)
      val schema = StructType(Seq(StructField("name", StringType),
        StructField("location", StringType),
        StructField("comment", StringType)))
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }
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
      // None (unknown function) matches the old fall-through: no later
      // case handles SHOW CREATE FUNCTION, so the default None applies
      case showCreateFnRe(db, name) =>
        showCreateFunction(spark, Option(db).getOrElse(""), name)
      case showDataSrcRe(pattern) =>
        val rows = dataSourceRegistry.toSeq
          .filter(d => matchesPattern(d._1, Option(pattern)))
          .sortBy(_._1)
          .map { case (n, d) =>
            Seq(n, d.location, d.className, d.apiVersion)
          }
        Some(strDf(spark,
          Seq("name", "location", "class name", "api version"), rows))
      case showTableStatsRe(raw)
          if icebergRegistry.contains(statsName(raw).split('.').last) &&
            """(?is)^\s*show\s+partitions\b""".r
              .findFirstIn(text).isDefined =>
        icebergPartitions(spark, statsName(raw).split('.').last,
          statsName(raw))
      case showTableStatsRe(raw) =>
        val n = statsName(raw)
        ImpalaStats.showTableStats(spark, n).orElse(
          ImpalaStats.showTableStats(spark, n.split('.').last))
      case showColumnStatsRe(raw) =>
        val n = statsName(raw)
        ImpalaStats.showColumnStats(spark, n).orElse(
          ImpalaStats.showColumnStats(spark, n.split('.').last))
      case showFilesRe(raw, spec)
          if icebergRegistry.contains(statsName(raw).split('.').last) =>
        icebergFiles(spark, statsName(raw).split('.').last)
      case showFilesRe(raw, spec) =>
        val n = statsName(raw).split('.').last
        ImpalaStats.showFiles(spark, n, Option(spec))
      case describeHistoryRe(name)
          if icebergRegistry.contains(name.split('.').last.toLowerCase) =>
        describeHistory(spark, name.split('.').last)
      case describeHistoryRe(name) =>
        // DESCRIBE HISTORY is Iceberg-only (DescribeHistoryStmt)
        throw new IllegalStateException(
          s"DESCRIBE HISTORY must specify an Iceberg table: $name")
      case describeFormattedRe(name)
          if icebergRegistry.contains(name.split('.').last.toLowerCase) =>
        describeFormatted(spark, name)
      case describeFormattedRe(name)
          if tableMeta.contains(name.split('.').last.toLowerCase) =>
        describeFormattedModel(spark, name)
      case describeDbRe(ext, db) =>
        describeDb(spark, ext != null, db)
      case showFunctionsRe(kind, db0) if spark.conf
          .getOption("graft.meta.ddlcatalog").contains("true") =>
        // bare / IN $DATABASE = the session's test database (the
        // default bucket); analytic lists nothing — user analytic
        // functions don't exist
        val db = Option(db0).map(_.toLowerCase)
          .filterNot(_.startsWith("$")).getOrElse("$default$")
        val kindTxt = Option(kind).map(_.trim.toLowerCase).getOrElse("")
        val kindName = if (kindTxt.isEmpty) "scalar" else kindTxt
        val fns: Seq[(String, String, Boolean)] =
          if (db == "_impala_builtins")
            builtinFns.filter(_._1 == kindName)
              .map(b => (b._3, b._2, false))
          else if (kindTxt == "analytic") Nil
          else fnRegistry.getOrElse(db,
            scala.collection.mutable.ArrayBuffer.empty[(String, String, Boolean)])
            .filter(_._3 == (kindTxt == "aggregate")).toSeq
        val schema = StructType(Seq(StructField("return type", StringType),
          StructField("signature", StringType),
          StructField("binary type", StringType),
          StructField("is persistent", StringType)))
        Some(spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              fns.map { case (sig, ret, _) =>
                Row(ret, sig,
                  if (db == "_impala_builtins") "BUILTIN" else "NATIVE",
                  "true") }).asJava), schema))
      case showTablesRe(inDb, pattern) if inDb != null =>
        // a db-qualified listing: the temp-view namespace answers only
        // for the db it represents (graft.meta.tempview.db — harness
        // sets it when fixture views model a loaded db); a real catalog
        // db is listed directly; anything else falls through to normal
        // parsing so the NOT_FOUND error surfaces instead of a
        // misreported every-temp-view listing
        val db = inDb.trim.split("\\s+").last.toLowerCase
        // the warehouse model's qualified side-tables (cross-db
        // renames) list under their db
        if (spark.conf.getOption("graft.meta.ddlcatalog").contains("true") &&
            (ImpalaStats.tableNames.exists(_.startsWith(db + ".")) ||
              ImpalaStats.qualifiedDbs.contains(db) ||
              dbRegistry.contains(db)))
          Some(oneCol(spark, "name",
            (ImpalaStats.tableNames ++
              spark.catalog.listTables().collect().map(_.name.toLowerCase))
              .flatMap { n =>
                if (n.startsWith(db + ".")) Some(n.stripPrefix(db + "."))
                else if (n.startsWith(db + "__"))
                  Some(n.stripPrefix(db + "__"))
                else None
              }.distinct.sorted
              .filter(matchesPattern(_, Option(pattern)))))
        else if (spark.conf.getOption("graft.meta.tempview.db")
            .exists(_.equalsIgnoreCase(db)))
          Some(oneCol(spark, "name",
            spark.catalog.listTables().collect().map(_.name.toLowerCase)
              .distinct.sorted.toSeq
              .filter(matchesPattern(_, Option(pattern)))))
        else if (scala.util.Try(spark.catalog.databaseExists(db))
            .getOrElse(false))
          Some(oneCol(spark, "name",
            spark.catalog.listTables(db).collect()
              .filter(!_.isTemporary).map(_.name.toLowerCase)
              .distinct.sorted.toSeq
              .filter(matchesPattern(_, Option(pattern)))))
        else None
      case showTablesRe(_, pattern) =>
        // a warehouse-model session (graft.meta.ddlcatalog) lists the
        // model's tables — the test database's content — instead of
        // every temp view in the single namespace
        val names =
          if (spark.conf.getOption("graft.meta.ddlcatalog").contains("true"))
            ImpalaStats.tableNames
              .filterNot(n => n.startsWith("__") || n.contains("."))
          else spark.catalog.listTables().collect()
            .map(_.name.toLowerCase).distinct.toSeq
        Some(oneCol(spark, "name", names.sorted
          .filter(matchesPattern(_, Option(pattern)))))
      case showDatabasesRe(pattern) =>
        // real catalog first; a harness may overlay extra fixture
        // environments via graft.meta.databases.extra
        // ("name[:comment]" comma-list) — the overlay's comment wins
        val real = spark.catalog.listDatabases().collect().toSeq
          .map(d => d.name.toLowerCase ->
            (if (d.name.equalsIgnoreCase("default"))
              "Default Hive database"
            else Option(d.description).getOrElse("")))
        val extra = spark.conf.getOption("graft.meta.databases.extra")
          .getOrElse("").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map { e =>
            val i = e.indexOf(':')
            if (i < 0) (e.toLowerCase, "")
            else (e.take(i).toLowerCase, e.drop(i + 1))
          }
        val created = dbRegistry.toSeq.map { case (n, i) =>
          n -> i.comment }
        val dbs = (scala.collection.immutable.ListMap(real: _*) ++ extra ++
          created).toSeq.sortBy(_._1)
        val hit = dbs.filter(d => matchesPattern(d._1, Option(pattern)))
        val schema = StructType(Seq(StructField("name", StringType),
          StructField("comment", StringType)))
        Some(spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              hit.map(d => Row(d._1, d._2))).asJava), schema))
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
