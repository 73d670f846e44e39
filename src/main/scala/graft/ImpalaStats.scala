package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Impala's table/column statistics subsystem: `COMPUTE [INCREMENTAL]
  * STATS`, `DROP [INCREMENTAL] STATS`, `ALTER TABLE ... SET COLUMN
  * STATS`, and the `SHOW TABLE STATS` / `SHOW COLUMN STATS` /
  * `SHOW PARTITIONS` result shapes.
  *
  * Reference behavior being modeled:
  *  - COMPUTE STATS runs one scan computing `ndv(col)` (the HLL
  *    estimate — `NdvHll` here is bit-exact with
  *    `be/src/exprs/aggregate-functions-ir.cc` HllUpdate/HllFinalize),
  *    null counts, and byte max/avg for variable-width columns, plus a
  *    per-partition `count(*)` (`fe/.../analysis/ComputeStatsStmt.java`).
  *  - Boolean columns record #TRUES/#FALSES; fixed-width types report
  *    their slot width as MAX/AVG SIZE whether or not stats exist
  *    (`fe/.../catalog/ColumnStats.java`).
  *  - Partition-key columns never scan: NDV = distinct partition
  *    values, #NULLS = number of partitions with a NULL key
  *    (`fe/.../catalog/HdfsTable.java:898-915`
  *    updatePartitionMdAndColStats).
  *  - SHOW TABLE STATS renders one row per partition plus a 'Total'
  *    row on partitioned tables (`fe/.../service/Frontend` via
  *    getTableStats; byte text per
  *    `fe/.../common/PrintUtils.java:44` printBytes).
  *
  * The registry is a library-side catalog keyed by table name: any
  * table source (a warehouse model, a fixture registrar) registers a
  * [[Model]] describing its physical layout and a data accessor; this
  * object owns only stats computation and rendering.
  */
object ImpalaStats {

  /** One partition's physical layout (the whole table when the table
    * is unpartitioned — `values` empty).
    */
  case class Partition(
      values: Seq[Option[String]],
      fileBytes: Seq[Long],
      format: String,
      location: String,
      // file basenames when the fixture models the reference loader's
      // layout (SHOW FILES pins them); empty = synthesize data_N.txt
      fileNames: Seq[String] = Nil)

  /** A registered table: non-partition columns (as published —
    * CHAR/VARCHAR carry their type text in metadata), partition
    * columns, live partition listing, and a full-table data accessor
    * (partition columns included) used by COMPUTE STATS.
    */
  case class Model(
      name: String,
      cols: () => StructType,
      partCols: () => StructType,
      partitions: () => Seq[Partition],
      data: () => DataFrame,
      // non-empty = an HBase mapping: SHOW TABLE STATS renders one
      // row per region (start keys; "" = the first region) instead of
      // the HDFS partition ledger (fe/.../service/Frontend
      // getTableStats for HBaseTable)
      hbaseRegions: Seq[String] = Nil,
      // per-region store sizes (parallel to hbaseRegions); empty =
      // apportion evenly from the row count. Real regions are skewed
      // by key distribution, which the loaded-stats goldens pin at
      // the KB/MB unit level
      hbaseRegionBytes: Seq[Long] = Nil)

  case class ColStat(ndv: Long, nulls: Long, maxSize: Long,
      avgSize: Double, trues: Long, falses: Long)

  final class State {
    var rowCount: Long = -1L
    val partRows =
      scala.collection.mutable.Map.empty[Seq[Option[String]], Long]
    val partIncremental =
      scala.collection.mutable.Set.empty[Seq[Option[String]]]
    val colStats = scala.collection.mutable.Map.empty[String, ColStat]
    def clearAll(): Unit = {
      rowCount = -1L; partRows.clear(); partIncremental.clear()
      colStats.clear()
    }
  }

  private val registry =
    scala.collection.mutable.LinkedHashMap.empty[String, (Model, State)]

  def register(m: Model): Unit =
    registry(m.name.toLowerCase) = (m, registry.get(m.name.toLowerCase)
      .map(_._2).getOrElse(new State))

  def drop(name: String): Unit = registry.remove(name.toLowerCase)

  /** Databases that have held a qualified side-table (cross-db
    * renames) — their listings stay answerable even when emptied. */
  val qualifiedDbs = scala.collection.mutable.Set.empty[String]

  /** ALTER TABLE RENAME keeps stats (the metastore moves them). */
  def rename(from: String, to: String): Unit = {
    if (to.contains('.'))
      qualifiedDbs += to.toLowerCase.split('.').head
    registry.remove(from.toLowerCase).foreach { case (m, st) =>
      registry(to.toLowerCase) = (m.copy(name = to), st)
    }
  }

  /** A column's stats follow drops/renames: dropping or renaming a
    * column discards its entry (HIVE-15075 — stats aren't carried to
    * the new name).
    */
  def forgetColumn(name: String, colName: String): Unit =
    lookup(name).foreach(_._2.colStats.remove(colName.toLowerCase))
  def clear(): Unit = { registry.clear(); qualifiedDbs.clear() }
  def lookup(name: String): Option[(Model, State)] =
    registry.get(name.toLowerCase)
  /** Registered table names (the warehouse model's catalog listing). */
  def tableNames: Seq[String] = registry.keys.toSeq

  /** Resolve a partition spec/predicate against a table's partitions
    * (Impala's PartitionSet analysis: `AlterTableDropPartitionStmt`
    * accepts both `(k=v, …)` conjunction specs and arbitrary
    * partition-column predicates like `j<2` or `k rlike '.*'`; a
    * comma-separated list is a conjunction; `col=NULL` and `col=''`
    * select the NULL partition). Returns matching partition keys in
    * listing order; None when the table is unregistered.
    */
  def matchPartitions(spark: SparkSession, name: String,
      predTxt: String): Option[Seq[Seq[Option[String]]]] =
    lookup(name).map { case (m, _) =>
      val partCols = m.partCols()
      val keys = m.partitions().map(_.values)
      if (partCols.isEmpty || keys.isEmpty) return Some(Nil)
      val pred = SqlText.split(predTxt).map(_.trim)
        .filter(_.nonEmpty).mkString(" AND ")
        .replaceAll("(?i)=\\s*NULL\\b", " IS NULL")
        .replaceAll("=\\s*''", " IS NULL")
        .replaceAll("=\\s*\"\"", " IS NULL")
        .replaceAll("\"", "'")
        .replaceAll("`", "")
      if (pred.isEmpty) return Some(keys)
      val schema = StructType(partCols.fields.map(f =>
        StructField(f.name, StringType)) :+ StructField("__idx", IntegerType))
      val rows = keys.zipWithIndex.map { case (k, i) =>
        Row.fromSeq(k.map(_.orNull) :+ Integer.valueOf(i)) }
      val df = mkDf(spark, schema, rows)
        .select(partCols.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) :+ col("__idx"): _*)
      val hit = df.where(pred).collect()
        .map(_.getAs[Int]("__idx")).toSet
      keys.zipWithIndex.collect { case (k, i) if hit(i) => k }
    }

  /** SHOW FILES IN t [PARTITION (spec)]: one row per file —
    * (path, size, partition path) per Frontend getTableFiles.
    */
  def showFiles(spark: SparkSession, name: String,
      partSpec: Option[String]): Option[DataFrame] =
    lookup(name).map { case (m, _) =>
      val partCols = m.partCols()
      val wanted = partSpec.flatMap(matchPartitions(spark, name, _))
        .map(_.toSet)
      val schema = StructType(Seq(StructField("path", StringType),
        StructField("size", StringType), StructField("partition", StringType)))
      val rows = m.partitions()
        .filter(p => wanted.forall(_.contains(p.values)))
        .flatMap { p =>
          val rel = partCols.fields.toSeq.zip(p.values).map {
            case (f, v) => f.name.toLowerCase + "=" +
              v.getOrElse("__HIVE_DEFAULT_PARTITION__")
          }.mkString("/")
          p.fileBytes.zipWithIndex.map { case (b, i) =>
            val base = p.fileNames.lift(i).getOrElse(s"data_$i.txt")
            Row(s"${p.location}/$base", printBytes(b), rel)
          }
        }
      mkDf(spark, schema, rows)
    }

  /** `PrintUtils.printBytes` — binary units, two decimals, HALF_EVEN
    * (java DecimalFormat ".00KB").
    */
  def printBytes(bytes: Long): String = {
    val KB = 1L << 10; val MB = 1L << 20; val GB = 1L << 30
    val TB = 1L << 40; val PB = 1L << 50
    def fmt(v: Double, unit: String): String =
      new java.text.DecimalFormat(".00" + unit).format(v)
    if (bytes >= PB) fmt(bytes.toDouble / PB, "PB")
    else if (bytes >= TB) fmt(bytes.toDouble / TB, "TB")
    else if (bytes >= GB) fmt(bytes.toDouble / GB, "GB")
    else if (bytes >= MB) fmt(bytes.toDouble / MB, "MB")
    else if (bytes >= KB) fmt(bytes.toDouble / KB, "KB")
    else s"${bytes}B"
  }

  /** Fixed slot width of a type, or -1 for variable-width
    * (ColumnStats.java: STRING/VARCHAR have no inherent width; CHAR(n)
    * is n; TIMESTAMP is 16; DECIMAL by precision).
    */
  private def fixedWidth(f: StructField): Long = {
    charVarchar(f) match {
      case Some(t) if t.startsWith("char(") =>
        return t.stripPrefix("char(").stripSuffix(")").trim.toLong
      case Some(_) => return -1L // varchar
      case None =>
    }
    f.dataType match {
      case BooleanType | ByteType => 1L
      case ShortType => 2L
      case IntegerType | FloatType | DateType => 4L
      case LongType | DoubleType => 8L
      case TimestampType | TimestampNTZType => 16L
      case d: DecimalType =>
        if (d.precision <= 9) 4L else if (d.precision <= 18) 8L else 16L
      case _ => -1L
    }
  }

  private def charVarchar(f: StructField): Option[String] =
    if (f.metadata.contains("__CHAR_VARCHAR_TYPE_STRING"))
      Some(f.metadata.getString("__CHAR_VARCHAR_TYPE_STRING").toLowerCase)
    else None

  private def isVarWidth(f: StructField): Boolean = fixedWidth(f) < 0

  /** Impala type text in SHOW COLUMN STATS (upper-case keywords,
    * lower-case struct field names — show-stats.test allcomplextypes).
    */
  private def typeText(f: StructField): String =
    charVarchar(f).map(_.toUpperCase)
      .getOrElse(ImpalaMeta.upperTypeSql(f.dataType))

  // ------------------------------------------------------------------
  // COMPUTE / DROP STATS
  // ------------------------------------------------------------------

  /** Run COMPUTE [INCREMENTAL] STATS; `columns` = None for all
    * non-partition columns, Some(list) for the column-subset form
    * (empty list = table stats only). `partitionKeys` = the resolved
    * key set of a scoped `PARTITION (spec)` compute (see
    * [[matchPartitions]]). Returns Impala's summary line; the
    * updated-partition count under INCREMENTAL counts only partitions
    * whose per-partition state was missing or stale
    * (compute-stats-incremental.test pins 'Updated 1 partition(s)'
    * after a single drop/insert).
    */
  def computeStats(spark: SparkSession, name: String,
      incremental: Boolean, columns: Option[Seq[String]] = None,
      partitionKeys: Option[Seq[Seq[Option[String]]]] = None)
      : Option[String] =
    lookup(name).map { case (m, st) =>
      val cols = m.cols()
      val partCols = m.partCols()
      val statCols: Seq[StructField] = (columns match {
        case None => cols.fields.toSeq
        case Some(sel) =>
          val want = sel.map(_.toLowerCase).toSet
          cols.fields.toSeq.filter(f => want(f.name.toLowerCase))
      }).filterNot(f => f.dataType match {
        // complex types carry no column stats (ComputeStatsStmt skips
        // them — compute-stats-incremental.test IMPALA-4854 pins
        // 'and 1 column(s)' on complextypestbl)
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })
      def specMatches(values: Seq[Option[String]]): Boolean =
        partitionKeys.forall(_.contains(values))
      var df = m.data()
      var updatedParts = 0
      // per-partition row counts in one pass (partition cols rendered
      // to their canonical value strings); unpartitioned = global count
      if (partCols.isEmpty) {
        val n = df.count()
        st.rowCount = n
        st.partRows(Nil) = n
        updatedParts = 1
      } else {
        val keyCols = partCols.fields.toSeq.map(f => col(f.name).cast(StringType))
        val counts = df.groupBy(keyCols: _*).count().collect().map { r =>
          (0 until partCols.length).map(i =>
            Option(r.getString(i))).toSeq ->
            r.getLong(partCols.length)
        }.toMap[Seq[Option[String]], Long]
        val targets = m.partitions().map(_.values).filter(specMatches)
        // which partitions this statement actually (re)computes:
        // scoped spec = every matching partition; plain incremental =
        // only those whose intermediate state is missing/stale
        val needing =
          if (incremental && partitionKeys.isEmpty)
            targets.filterNot(st.partIncremental)
          else targets
        updatedParts = needing.size
        // zero-partition tables still run the (empty) stats query and
        // record rowCount 0; the no-op short-circuit needs partitions
        // to exist but none stale
        if (incremental && needing.isEmpty && m.partitions().nonEmpty)
          return Some(
            "No partitions selected for incremental stats update.")
        needing.foreach(v => st.partRows(v) = counts.getOrElse(v, 0L))
        // drop counts of partitions that no longer exist
        val live = m.partitions().map(_.values).toSet
        st.partRows.keys.toSeq.filterNot(live).foreach(st.partRows.remove)
        if (incremental) {
          needing.foreach(st.partIncremental += _)
          // aggregates merge the per-partition intermediate states:
          // partitions WITHOUT state contribute neither rows nor
          // column values (compute-stats-incremental.test pins Total
          // 6990 and NDV 6990 after one partition's state is dropped)
          val contributing = st.partIncremental.toSet
          st.rowCount = m.partitions().map(_.values)
            .filter(contributing)
            .map(v => st.partRows.getOrElse(v, 0L)).sum
          if (!m.partitions().map(_.values).forall(contributing)) {
            val marker = " NULL "
            val keyed = concat_ws("",
              partCols.fields.toSeq.map(f =>
                coalesce(col(f.name).cast(StringType), lit(marker))): _*)
            val keys = contributing.map(_.map(_.getOrElse(marker))
              .mkString("")).toSeq
            df = df.where(keyed.isin(keys: _*))
          }
        } else {
          m.partitions().map(_.values).filterNot(st.partRows.contains)
            .foreach(v => st.partRows(v) = counts.getOrElse(v, 0L))
          st.rowCount = m.partitions().map(_.values)
            .map(v => st.partRows.getOrElse(v, 0L)).sum
        }
      }
      if (!incremental) st.partIncremental.clear()
      // one aggregate pass over the data for every stats column
      if (statCols.nonEmpty) {
        val aggs = statCols.flatMap { f =>
          val c = col(f.name)
          val base = Seq(
            org.apache.spark.sql.graft.Bridge.column(
              graft.functions.NdvHll(
                org.apache.spark.sql.graft.Bridge.expression(c))
                .toAggregateExpression()).as(s"ndv_${f.name}"),
            count(when(c.isNull, lit(1))).as(s"nulls_${f.name}"))
          val width =
            if (isVarWidth(f))
              Seq(max(octet_length(c.cast(StringType))).as(s"max_${f.name}"),
                avg(octet_length(c.cast(StringType)).cast(DoubleType))
                  .as(s"avg_${f.name}"))
            else Nil
          val bools = f.dataType match {
            case BooleanType =>
              Seq(count(when(c === true, lit(1))).as(s"true_${f.name}"),
                count(when(c === false, lit(1))).as(s"false_${f.name}"))
            case _ => Nil
          }
          base ++ width ++ bools
        }
        val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        def l(n: String): Long = r.getAs[Any](n) match {
          case null => 0L
          case x: Long => x
          case x: Int => x.toLong
        }
        statCols.foreach { f =>
          val (maxS, avgS) =
            if (isVarWidth(f)) {
              val mx = Option(r.getAs[Any](s"max_${f.name}"))
                .map { case x: Int => x.toLong; case x: Long => x }
                .getOrElse(0L)
              // the catalog stores avg size as a FLOAT; the display
              // casts back to double (truncate-table.test pins
              // 6.666666507720947 for 20/3)
              val av = Option(r.getAs[Any](s"avg_${f.name}"))
                .map { case d: Double => d.toFloat.toDouble }
                .getOrElse(0.0)
              (mx, av)
            } else (fixedWidth(f), fixedWidth(f).toDouble)
          val (t, fa) = f.dataType match {
            case BooleanType => (l(s"true_${f.name}"), l(s"false_${f.name}"))
            case _ => (-1L, -1L)
          }
          // NDV caps at the row count then the type's value-space
          // (ColumnStats.createHiveColStatsData: tinyint 2^8, smallint
          // 2^16, int 2^32, date 3652059, decimal 10^precision)
          val typeCap: Long = f.dataType match {
            case ByteType => 1L << 8
            case ShortType => 1L << 16
            case IntegerType => 1L << 32
            case DateType => 3652059L
            case d: DecimalType =>
              math.pow(10, d.precision).toLong
            case _ => Long.MaxValue
          }
          // BOOLEAN stores no NDV in the metastore (BooleanColumnStats
          // has none) — the catalog reports the constant 2 once stats
          // exist, row-count cap notwithstanding (compute-stats.test
          // pins 2 even on an empty table)
          val ndv =
            if (f.dataType == BooleanType) 2L
            else math.min(math.min(l(s"ndv_${f.name}"),
              if (st.rowCount >= 0) st.rowCount else Long.MaxValue), typeCap)
          st.colStats(f.name.toLowerCase) =
            ColStat(ndv, l(s"nulls_${f.name}"), maxS, avgS, t, fa)
        }
      }
      s"Updated $updatedParts partition(s) and ${statCols.size} column(s)."
    }

  def dropStats(name: String): Option[String] =
    lookup(name).map { case (_, st) => st.clearAll(); "Stats have been dropped." }

  /** DROP INCREMENTAL STATS ... PARTITION (spec): forgets that
    * partition's incremental intermediate state; its row count from
    * the last compute STAYS in the metastore
    * (compute-stats-incremental.test pins #ROWS=310 after the drop).
    */
  def dropIncrementalPartition(name: String,
      values: Seq[Option[String]]): Unit =
    lookup(name).foreach { case (_, st) => st.partIncremental -= values }

  /** A data mutation (insert/load) invalidates the touched partition's
    * incremental state — the next incremental compute recounts it.
    */
  def invalidatePartition(name: String, values: Seq[Option[String]]): Unit =
    lookup(name).foreach(_._2.partIncremental -= values)

  /** A schema change (ADD COLUMNS) invalidates every partition's
    * incremental state (compute-stats-incremental.test IMPALA-4170).
    */
  def invalidateIncremental(name: String): Unit =
    lookup(name).foreach(_._2.partIncremental.clear())

  /** ALTER TABLE ... SET COLUMN STATS c ('numDVs'='..', 'numNulls'=..,
    * 'maxSize'=.., 'avgSize'=..) — manual overrides
    * (`fe/.../analysis/AlterTableSetColumnStats.java`).
    */
  def setColumnStats(name: String, colName: String,
      props: Map[String, String]): Unit =
    lookup(name).foreach { case (m, st) =>
      val f = m.cols().fields
        .find(_.name.equalsIgnoreCase(colName)).getOrElse(return)
      val cur = st.colStats.getOrElse(colName.toLowerCase, emptyStat(f))
      def p(k: String): Option[String] =
        props.collectFirst { case (pk, v) if pk.equalsIgnoreCase(k) => v }
      st.colStats(colName.toLowerCase) = cur.copy(
        ndv = p("numDVs").map(_.toLong).getOrElse(cur.ndv),
        nulls = p("numNulls").map(_.toLong).getOrElse(cur.nulls),
        maxSize = p("maxSize").map(_.toLong).getOrElse(cur.maxSize),
        avgSize = p("avgSize").map(_.toDouble).getOrElse(cur.avgSize))
    }

  /** ALTER TABLE ... SET TBLPROPERTIES('numRows'='n') analog. */
  def setRowCount(name: String, n: Long): Unit =
    lookup(name).foreach { case (_, st) => st.rowCount = n }

  private def emptyStat(f: StructField): ColStat =
    ColStat(-1L, -1L, fixedWidth(f), fixedWidth(f).toDouble, -1L, -1L)

  // ------------------------------------------------------------------
  // SHOW ... STATS rendering
  // ------------------------------------------------------------------

  private def mkDf(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  /** SHOW TABLE STATS / SHOW PARTITIONS result. `partitionsOnly` drops
    * the stats columns SHOW PARTITIONS doesn't render (it renders the
    * same shape in Impala, so both routes come here).
    */
  def showTableStats(spark: SparkSession, name: String): Option[DataFrame] =
    lookup(name).map { case (m, st) =>
      if (m.hbaseRegions.nonEmpty) {
        // HBase shape: (region location, start rowkey, estimated
        // rows, size); one region per pre-split + a Total row when
        // the table spans several regions. Estimates come from the
        // region server (the goldens regex-pin them); the model
        // apportions the known row count evenly.
        val n = m.hbaseRegions.length
        val rowsPerRegion =
          math.max(if (st.rowCount >= 0) st.rowCount / n
          else scala.util.Try(m.data().count()).getOrElse(0L) / n, 1L)
        val bytes: Seq[Long] =
          if (m.hbaseRegionBytes.length == n) m.hbaseRegionBytes
          else Seq.fill(n)(rowsPerRegion * 88L)
        val regionRows = m.hbaseRegions.zip(bytes).map { case (k, b) =>
          Row("localhost:16201", k, rowsPerRegion, printBytes(b))
        }
        val total =
          if (n > 1) Seq(Row("Total", "", rowsPerRegion * n,
            printBytes(bytes.sum)))
          else Nil
        return Some(mkDf(spark, StructType(Seq(
          StructField("region_location", StringType),
          StructField("start_rowkey", StringType),
          StructField("est_num_rows", LongType),
          StructField("size", StringType))), regionRows ++ total))
      }
      val partCols = m.partCols()
      val parts = m.partitions()
      val statFields = Seq(
        StructField("num_rows", LongType),
        StructField("num_files", LongType),
        StructField("size", StringType),
        StructField("bytes_cached", StringType),
        StructField("cache_replication", StringType),
        StructField("format", StringType),
        StructField("incremental_stats", StringType),
        StructField("location", StringType))
      if (partCols.isEmpty) {
        val p = parts.headOption.getOrElse(
          Partition(Nil, Nil, "TEXT", m.name))
        val rows = Seq(Row(
          st.rowCount,
          p.fileBytes.length.toLong,
          printBytes(p.fileBytes.sum),
          "NOT CACHED", "NOT CACHED", p.format, "false", p.location))
        mkDf(spark, StructType(statFields), rows)
      } else {
        val keyFields = partCols.fields.toSeq.map(f =>
          StructField(f.name.toLowerCase, StringType))
        val rows = parts.map { p =>
          // the NULL partition renders as the string NULL in the value
          // columns (the path keeps __HIVE_DEFAULT_PARTITION__)
          val key = p.values.map(_.getOrElse("NULL"))
          Row.fromSeq(key ++ Seq(
            st.partRows.getOrElse(p.values, -1L),
            p.fileBytes.length.toLong,
            printBytes(p.fileBytes.sum),
            "NOT CACHED", "NOT CACHED", p.format,
            if (st.partIncremental(p.values)) "true" else "false",
            p.location))
        }
        val allRows = st.rowCount
        val total = Row.fromSeq(
          Seq("Total") ++ Seq.fill(partCols.length - 1)("") ++ Seq(
            allRows,
            parts.map(_.fileBytes.length).sum.toLong,
            printBytes(parts.flatMap(_.fileBytes).sum),
            "0B", "", "", "", ""))
        mkDf(spark, StructType(keyFields ++ statFields), rows :+ total)
      }
    }

  /** SHOW COLUMN STATS result: data columns first, then partition
    * columns with metadata-derived NDV/#NULLS.
    */
  def showColumnStats(spark: SparkSession, name: String): Option[DataFrame] =
    lookup(name).map { case (m, st) =>
      val partCols = m.partCols()
      val parts = m.partitions()
      val schema = StructType(Seq(
        StructField("column", StringType),
        StructField("type", StringType),
        StructField("ndv", LongType),
        StructField("num_nulls", LongType),
        StructField("max_size", LongType),
        StructField("avg_size", DoubleType),
        StructField("num_trues", LongType),
        StructField("num_falses", LongType)))
      val dataRows = m.cols().fields.toSeq.map { f =>
        val s = st.colStats.getOrElse(f.name.toLowerCase, emptyStat(f))
        Row(f.name.toLowerCase, typeText(f), s.ndv, s.nulls, s.maxSize,
          s.avgSize, s.trues, s.falses)
      }
      val partRows = partCols.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val vals = parts.map(_.values(i))
        val ndv = vals.distinct.length.toLong
        val nulls = vals.count(_.isEmpty).toLong
        Row(f.name.toLowerCase, typeText(f), ndv, nulls, fixedWidth(f),
          fixedWidth(f).toDouble, -1L, -1L)
      }
      mkDf(spark, schema, dataRows ++ partRows)
    }
}
