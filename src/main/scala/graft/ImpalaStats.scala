package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Impala's table-metadata result shapes for registered tables:
  * `SHOW TABLE STATS` / `SHOW PARTITIONS`, `SHOW COLUMN STATS` and
  * `SHOW FILES`, plus partition-spec resolution for the planner
  * (`plans.PartitionKeyScans`, `plans.ImpalaExplain`).
  *
  * Reference behavior being modeled:
  *  - fixed-width types report their slot width as MAX/AVG SIZE
  *    (`fe/.../catalog/ColumnStats.java`);
  *  - partition-key columns never scan: NDV = distinct partition
  *    values, #NULLS = number of partitions with a NULL key
  *    (`fe/.../catalog/HdfsTable.java:898-915`
  *    updatePartitionMdAndColStats);
  *  - SHOW TABLE STATS renders one row per partition plus a 'Total'
  *    row on partitioned tables (`fe/.../service/Frontend` via
  *    getTableStats; byte text per
  *    `fe/.../common/PrintUtils.java:44` printBytes).
  *
  * No statistics are computed here, so row counts, NDVs and null
  * counts of data columns render as Impala's "unknown", -1.
  *
  * The registry is a library-side catalog keyed by table name: a table
  * source registers a [[Model]] describing its physical layout; this
  * object owns only the rendering.
  */
object ImpalaStats {

  /** One partition's physical layout (the whole table when the table
    * is unpartitioned — `values` empty).
    */
  case class Partition(
      values: Seq[Option[String]],
      fileBytes: Seq[Long],
      format: String,
      location: String)

  /** A registered table: non-partition columns (as published —
    * CHAR/VARCHAR carry their type text in metadata), partition
    * columns and the live partition listing.
    */
  case class Model(
      name: String,
      cols: () => StructType,
      partCols: () => StructType,
      partitions: () => Seq[Partition])

  private val registry =
    scala.collection.mutable.LinkedHashMap.empty[String, Model]

  def register(m: Model): Unit = registry(m.name.toLowerCase) = m

  def drop(name: String): Unit = registry.remove(name.toLowerCase)

  def lookup(name: String): Option[Model] = registry.get(name.toLowerCase)

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
    lookup(name).map { m =>
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
    lookup(name).map { m =>
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
            Row(s"${p.location}/data_$i.txt", printBytes(b), rel)
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

  /** Impala type text in SHOW COLUMN STATS (upper-case keywords,
    * lower-case struct field names — show-stats.test allcomplextypes).
    */
  private def typeText(f: StructField): String =
    charVarchar(f).map(_.toUpperCase)
      .getOrElse(ImpalaMeta.upperTypeSql(f.dataType))

  private def mkDf(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  /** SHOW TABLE STATS / SHOW PARTITIONS result (Impala renders the
    * same shape for both).
    */
  def showTableStats(spark: SparkSession, name: String): Option[DataFrame] =
    lookup(name).map { m =>
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
          -1L,
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
            -1L,
            p.fileBytes.length.toLong,
            printBytes(p.fileBytes.sum),
            "NOT CACHED", "NOT CACHED", p.format, "false", p.location))
        }
        val total = Row.fromSeq(
          Seq("Total") ++ Seq.fill(partCols.length - 1)("") ++ Seq(
            -1L,
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
    lookup(name).map { m =>
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
        Row(f.name.toLowerCase, typeText(f), -1L, -1L, fixedWidth(f),
          fixedWidth(f).toDouble, -1L, -1L)
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
