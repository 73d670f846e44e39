package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-format surface mapping the reference's per-format scanners/writers
  * (SURVEY.md §2.1) onto Spark's sources:
  *
  *  - Impala TEXT tables (`be/src/exec/hdfs-text-scanner.h:49`, writer
  *    `hdfs-text-table-writer.h:43`): delimited text, default field
  *    terminator Ctrl-A, `\N` for NULL, no header, no quoting —
  *    [[readTextTable]]/[[writeTextTable]] set those defaults so a file
  *    written by the reference round-trips.
  *  - CSV with explicit delimiter/escape (the `FIELDS TERMINATED BY`
  *    clause) — [[readCsv]].
  *  - Parquet/ORC (`hdfs-parquet-scanner.h`, `hdfs-orc-scanner.h`):
  *    Spark built-ins, vectorized + predicate pushdown.
  *  - Avro (`hdfs-avro-scanner.h:86`): via the spark-avro source when its
  *    jar is on the classpath; schema resolution is Spark-native.
  *  - JSON lines: Spark built-in (the reference reads JSON through Hive
  *    SerDes; semantics match schema-on-read).
  */
object Formats {

  val ImpalaFieldDelim = "\u0001"
  val ImpalaNullMarker = "\\N"

  private def textReader(spark: SparkSession, delim: String): DataFrameReader =
    spark.read
      .option("delimiter", delim)
      .option("nullValue", ImpalaNullMarker)
      .option("header", "false")
      .option("quote", "")   // Impala text has no quoting
      .option("escape", "")
      .option("emptyValue", "")

  /** Read an Impala-style TEXT table directory. */
  def readTextTable(spark: SparkSession, path: String, schema: StructType,
      delim: String = ImpalaFieldDelim): DataFrame =
    textReader(spark, delim).schema(schema).csv(path)

  /** Write an Impala-style TEXT table (readable by the reference). */
  def writeTextTable(df: DataFrame, path: String,
      delim: String = ImpalaFieldDelim): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("delimiter", delim)
      .option("nullValue", ImpalaNullMarker)
      .option("header", "false")
      .option("quote", "")
      .option("escape", "")
      .option("emptyValue", "")
      .csv(path)

  /** General delimited read (FIELDS TERMINATED BY ...). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      delim: String = ",", header: Boolean = false): DataFrame =
    spark.read.option("delimiter", delim)
      .option("header", header.toString).schema(schema).csv(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readJsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Avro: the spark-avro DataSource when its jar is present (full type
    * coverage, pushdown), else the [[AvroFiles]] container-file path on
    * the always-present Avro core library — Avro lakes read either way.
    */
  def readAvro(spark: SparkSession, path: String): DataFrame =
    if (sparkAvroAvailable)
      try spark.read.format("avro").load(path)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        AvroFiles.readAvro(spark, path) }
    else AvroFiles.readAvro(spark, path)

  def writeAvro(df: DataFrame, path: String): Unit =
    if (sparkAvroAvailable)
      try df.write.mode(SaveMode.Overwrite).format("avro").save(path)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        AvroFiles.writeAvro(df, path) }
    else AvroFiles.writeAvro(df, path)

  /** True only when the DataSource actually registers (the class can be
    * on the classpath via other Spark modules without the source being
    * usable — hence the attempt-and-fallback above).
    */
  def sparkAvroAvailable: Boolean =
    try {
      org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource("avro", new org.apache.spark.sql.internal.SQLConf)
      true
    } catch { case _: Throwable => false }
}
