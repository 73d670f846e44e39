package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.AcidFiles.WriteIds

/** The reference's full-ACID fixture tables, materialized as REAL Hive
  * ACID directory layouts (via [[AcidLayout]]) and read back natively
  * (via [[AcidFiles]]) — no synthesized row__id shortcuts. The load
  * recipes mirror `testdata/datasets/functional/
  * functional_schema_template.sql` (DEPENDENT_LOAD_ACID /
  * DEPENDENT_LOAD_HIVE sections) and `tests/query_test/test_acid*.py`
  * table setups:
  *
  *  - `alltypestiny` / `complextypestbl`: one-transaction loads
  *    (complextypestbl's two source parquet files become two bucket
  *    writers — ids 1-7 bucket 0, id 8 bucket 1, full-acid-rowid.test)
  *  - `complextypestbl_minor_compacted`: eight single-row transactions
  *    minor-compacted into delta_1_8_v9, per-row write ids
  *  - `complextypestbl_deleted_rows` / `alltypes_deleted_rows`:
  *    insert (writeId 1) then Hive DELETE (writeId 2) as delete-deltas
  *  - `alltypes_promoted[_nopart]`: pre-ACID "original" files promoted
  *    in place (`alltypes_non_acid.orc` is the reference's own file —
  *    its row order pins the synthesized rowids)
  *  - `streaming`: the reference's Hive-streaming delta_1_2 file, read
  *    under per-test write-id validity (acid-row-validation-*.test)
  */
object AcidFixtures {

  private val refData = Paths.get(
    sys.env.getOrElse("GRAFT_REF_TESTDATA", "/root/reference/testdata"))
    .resolve("data")

  @volatile private var builtWh: Path = null

  private val tinyParts = StructType.fromDDL("year int, month int")

  /** Build the ACID warehouse once per JVM (needs the functional
    * fixture views registered in `spark`).
    */
  def warehouse(spark: SparkSession): Path = synchronized {
    if (builtWh != null) return builtWh
    val wh = graft.GraftSession.tempDir("graft-acid-wh")

    val att = spark.table("alltypestiny")
    AcidLayout.writeInsert(spark, wh.resolve("alltypestiny"),
      att, 1, 1, partCols = Seq("year", "month"),
      orderBy = Seq(col("id")))

    val ct = spark.table("complextypestbl")
    AcidLayout.writeInsert(spark, wh.resolve("complextypestbl"),
      ct, 1, 1,
      bucketIdCol = when(col("id") === 8, 1).otherwise(0),
      orderBy = Seq(col("id")))

    AcidLayout.writeInsert(spark,
      wh.resolve("complextypestbl_minor_compacted"),
      ct.withColumn("_gf_writeid", col("id").cast("long")), 1, 8,
      writeIdCol = Some("_gf_writeid"), compactionV = Some(9),
      orderBy = Seq(col("id")))

    AcidLayout.writeInsert(spark,
      wh.resolve("complextypestbl_deleted_rows"), ct, 1, 1,
      orderBy = Seq(col("id")))
    AcidLayout.writeDelete(spark,
      wh.resolve("complextypestbl_deleted_rows"),
      ct.where(col("id") % 2 === 0).select(
        lit(1L).as("originalTransaction"),
        lit(AcidFiles.bucketEncode(0)).as("bucket"),
        (col("id") - 1).cast("long").as("rowId")), 2)

    scala.util.Try(spark.table("alltypes")).foreach { at =>
      AcidLayout.writeInsert(spark, wh.resolve("alltypes_deleted_rows"),
        at, 1, 1, partCols = Seq("year", "month"),
        orderBy = Seq(col("id")))
      // DELETE FROM ... WHERE month % 2 = 0 and year % 2 = 0 and
      // id % 10 = 0 (schema template DEPENDENT_LOAD_ACID); the rowid
      // of each victim is its id-rank within the partition
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("year"), col("month")).orderBy(col("id"))
      AcidLayout.writeDelete(spark, wh.resolve("alltypes_deleted_rows"),
        at.select(col("year"), col("month"), col("id"),
            (row_number().over(w) - 1).cast("long").as("rowId"))
          .where(col("month") % 2 === 0 && col("year") % 2 === 0 &&
            col("id") % 10 === 0)
          .select(col("year"), col("month"),
            lit(1L).as("originalTransaction"),
            lit(AcidFiles.bucketEncode(0)).as("bucket"), col("rowId")),
        2, partCols = Seq("year", "month"))

      AcidLayout.writeOriginal(spark, wh.resolve("alltypes_promoted"),
        at.orderBy("id"), partCols = Seq("year", "month"))
    }

    val nopart = wh.resolve("alltypes_promoted_nopart")
    Files.createDirectories(nopart)
    Files.copy(refData.resolve("alltypes_non_acid.orc"),
      nopart.resolve("000000_0"), StandardCopyOption.REPLACE_EXISTING)

    val streaming = wh.resolve("streaming/delta_0000001_0000002")
    Files.createDirectories(streaming)
    Files.copy(refData.resolve("streaming.orc"),
      streaming.resolve("streaming.orc"),
      StandardCopyOption.REPLACE_EXISTING)

    builtWh = wh
    wh
  }

  /** Register the full-ACID twins over the current fixture views —
    * overrides `alltypestiny`/`complextypestbl` with their ACID-backed
    * reads for the acid golden files.
    */
  /** The built warehouse dir of a fixture table (SHOW FILES rendering
    * over the real layout), None when no such fixture exists.
    */
  def tableDir(spark: SparkSession, name: String): Option[Path] = {
    val d = warehouse(spark).resolve(name.toLowerCase)
    if (Files.isDirectory(d)) Some(d) else None
  }

  def registerFullAcid(spark: SparkSession): Unit = {
    val wh = warehouse(spark)
    def reg(name: String, parts: StructType = new StructType()): Unit =
      AcidFiles.readFullAcid(spark, wh.resolve(name).toString, parts)
        .createOrReplaceTempView(name)
    reg("alltypestiny", tinyParts)
    reg("complextypestbl")
    reg("complextypestbl_minor_compacted")
    reg("complextypestbl_deleted_rows")
    reg("alltypes_deleted_rows", tinyParts)
    reg("alltypes_promoted", tinyParts)
    reg("alltypes_promoted_nopart")
  }

  /** Register `streaming` under a given write-id validity — the three
    * acid-row-validation states.
    */
  def registerStreaming(spark: SparkSession, ids: WriteIds): Unit = {
    val wh = warehouse(spark)
    AcidFiles.readFullAcid(spark, wh.resolve("streaming").toString,
      ids = ids).createOrReplaceTempView("streaming")
  }
}
