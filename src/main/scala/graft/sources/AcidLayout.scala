package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Writer for the Hive ACID directory layout — the producing half of
  * [[AcidFiles]]. Emits `base_N` / `delta_N_N` / `delete_delta_N_N`
  * directories whose ORC files carry the five-field full-ACID wrapper
  * `(operation, originalTransaction, bucket, rowId,
  * currentTransaction, row)`, plus plain "original" files for
  * pre-upgrade tables (ref layout: be/src/exec/orc/orc-metadata-
  * utils.h ACID schema; fe/.../util/AcidUtils.java dir naming).
  *
  * Row ids are assigned per (partition, bucket[, writeId]) in the
  * DataFrame's encounter order, mirroring how a Hive writer numbers
  * the rows of each bucket file from zero.
  */
object AcidLayout {

  import AcidFiles.bucketEncode

  private def deltaName(min: Long, max: Long, compactionV: Option[Long],
      delete: Boolean, padded: Boolean = true): String = {
    val p = if (delete) "delete_delta" else "delta"
    val v = compactionV.map(n => f"_v$n%07d").getOrElse("")
    // Hive zero-pads write ids in directory names; Impala's own table
    // sink spells them minimally (`delta_1_1` — acid-insert.test SHOW
    // FILES pins the spelling)
    if (padded) f"${p}_$min%07d_$max%07d$v" else s"${p}_${min}_$max$v"
  }

  private def baseName(w: Long, padded: Boolean = true): String =
    if (padded) f"base_$w%07d" else s"base_$w"

  /** Write one ORC file at `dest`: `write` runs a one-partition Spark
    * write into the path it is given, under a staging dir, and the single
    * part-file it leaves moves to `dest`. A zero-row write may produce no
    * part-file at all — the layout directory is still created (an empty
    * base/delta is a valid, everything-hiding state). The staging dir is
    * deleted right after the move.
    */
  private def writeOrcFile(dest: Path)(write: String => Unit): Unit = {
    val tmp = graft.GraftSession.tempDir("graft-acid-w")
    try {
      write(tmp.resolve("d").toString)
      val s = Files.list(tmp.resolve("d"))
      val part =
        try s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".orc"))
        finally s.close()
      Files.createDirectories(dest.getParent)
      part.foreach(p =>
        Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING))
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val cs = try s.iterator().asScala.toVector finally s.close()
      cs.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  private def partDirOf(tableDir: Path, partCols: Seq[String],
      partVals: Seq[Any]): Path =
    partCols.zip(partVals).foldLeft(tableDir) { case (d, (c, v)) =>
      d.resolve(s"$c=${String.valueOf(v)}")
    }

  /** Write `df` as one ACID transaction's insert directory. The
    * five-field wrapper is synthesized here: `operation` 0,
    * original/current transaction from `writeIdCol` (a literal
    * `writeId` for a normal insert; per-row — named by a `df` column,
    * excluded from the row struct — for a minor-compacted delta),
    * `rowId` numbered from zero per (partition, bucket, writeId) in
    * `df` order. `asBase` writes `base_N` (insert overwrite / major
    * compaction); `compactionV` adds the `_vN` suffix of a compaction
    * output.
    */
  def writeInsert(spark: SparkSession, tableDir: Path, df: DataFrame,
      minWriteId: Long, maxWriteId: Long,
      partCols: Seq[String] = Nil,
      bucketIdCol: Column = lit(0),
      writeIdCol: Option[String] = None,
      asBase: Boolean = false,
      compactionV: Option[Long] = None,
      orderBy: Seq[Column] = Nil,
      padded: Boolean = true): Unit = {
    import org.apache.spark.sql.expressions.Window
    val widCol = writeIdCol.map(col).getOrElse(lit(minWriteId)).cast(LongType)
    val dataCols = df.columns
      .filterNot(c => partCols.contains(c) || writeIdCol.contains(c))
    val seq = df
      .withColumn("_gf_seq", monotonically_increasing_id())
      .withColumn("_gf_bucket", bucketIdCol.cast(IntegerType))
      .withColumn("_gf_wid", widCol)
    val w = Window
      .partitionBy((partCols.map(col) :+ col("_gf_bucket") :+
        col("_gf_wid")): _*)
      .orderBy((if (orderBy.nonEmpty) orderBy
        else Seq(col("_gf_seq"))): _*)
    val wrapped = seq.select(
      (Seq(
        lit(0).as("operation"),
        col("_gf_wid").as("originalTransaction"),
        (lit(bucketEncode(0)) + col("_gf_bucket") * lit(65536))
          .cast(IntegerType).as("bucket"),
        (row_number().over(w) - 1).cast(LongType).as("rowId"),
        col("_gf_wid").as("currentTransaction"),
        struct(dataCols.map(col).toIndexedSeq: _*).as("row")
      ) ++ partCols.map(col) :+ col("_gf_bucket")): _*)
    val dirName =
      if (asBase) baseName(maxWriteId, padded)
      else deltaName(minWriteId, maxWriteId, compactionV, delete = false,
        padded = padded)
    writeBuckets(spark, tableDir, wrapped, partCols, dirName)
  }

  /** Write delete events: `keys` holds the partition columns plus
    * `originalTransaction`, `bucket` (encoded), `rowId` of each
    * deleted row.
    */
  def writeDelete(spark: SparkSession, tableDir: Path, keys: DataFrame,
      writeId: Long, partCols: Seq[String] = Nil): Unit = {
    val wrapped = keys.select(
      (Seq(
        lit(2).as("operation"),
        col("originalTransaction").cast(LongType)
          .as("originalTransaction"),
        col("bucket").cast(IntegerType).as("bucket"),
        col("rowId").cast(LongType).as("rowId"),
        lit(writeId).as("currentTransaction")
      ) ++ partCols.map(col) :+ lit(0).as("_gf_bucket")): _*)
    writeBuckets(spark, tableDir, wrapped, partCols,
      deltaName(writeId, writeId, None, delete = true))
  }

  /** Write plain pre-ACID "original" files (one `00000N_0` per
    * partition) — the layout an upgraded-in-place table reads.
    */
  def writeOriginal(spark: SparkSession, tableDir: Path, df: DataFrame,
      partCols: Seq[String] = Nil, fileName: String = "000000_0"): Unit = {
    val dataCols = df.columns.filterNot(partCols.contains)
    eachPartition(df, partCols) { case (partVals, part) =>
      writeOrcFile(partDirOf(tableDir, partCols, partVals).resolve(fileName)) {
        part.select(dataCols.map(col).toIndexedSeq: _*).coalesce(1)
          .write.mode("overwrite").orc(_)
      }
    }
  }

  /** An insert-only ACID transaction: PLAIN data files inside the
    * delta_/base_ directory (no transaction wrapper — the file
    * selection alone gives snapshot isolation, which is exactly
    * Impala's writable ACID subset).
    */
  def writeInsertOnly(spark: SparkSession, tableDir: Path, df: DataFrame,
      writeId: Long, partCols: Seq[String] = Nil,
      asBase: Boolean = false, padded: Boolean = true): Unit = {
    val dataCols = df.columns.filterNot(partCols.contains)
    val dirName =
      if (asBase) baseName(writeId, padded)
      else deltaName(writeId, writeId, None, delete = false,
        padded = padded)
    eachPartition(df, partCols) { case (partVals, part) =>
      writeOrcFile(partDirOf(tableDir, partCols, partVals)
          .resolve(dirName).resolve("000000_0")) {
        part.select(dataCols.map(col).toIndexedSeq: _*).coalesce(1)
          .write.mode("overwrite").orc(_)
      }
    }
  }

  /** Major compaction: rewrite the current visible snapshot as
    * `base_N_vV`. For full-ACID input the snapshot carries `row__id`
    * and every row KEEPS its original transaction/bucket/rowid (the
    * compactor never renumbers); insert-only input compacts to plain
    * files.
    */
  def writeCompactedBase(spark: SparkSession, tableDir: Path,
      snapshot: DataFrame, writeId: Long, visibilityV: Long,
      partCols: Seq[String] = Nil): Unit = {
    val dirName = f"base_$writeId%07d_v$visibilityV%07d"
    if (snapshot.columns.contains("row__id")) {
      val dataCols = snapshot.columns
        .filterNot(c => c == "row__id" || partCols.contains(c))
      val wrapped = snapshot.select(
        (Seq(
          col("row__id.operation").as("operation"),
          col("row__id.originaltransaction").as("originalTransaction"),
          col("row__id.bucket").as("bucket"),
          col("row__id.rowid").as("rowId"),
          col("row__id.currenttransaction").as("currentTransaction"),
          struct(dataCols.map(col).toIndexedSeq: _*).as("row")
        ) ++ partCols.map(col) :+ lit(0).as("_gf_bucket")): _*)
      writeBuckets(spark, tableDir, wrapped, partCols, dirName)
    } else {
      val dataCols = snapshot.columns.filterNot(partCols.contains)
      eachPartition(snapshot, partCols) { case (partVals, part) =>
        writeOrcFile(partDirOf(tableDir, partCols, partVals)
            .resolve(dirName).resolve("000000_0")) {
          part.select(dataCols.map(col).toIndexedSeq: _*).coalesce(1)
            .write.mode("overwrite").orc(_)
        }
      }
    }
  }

  /** An empty base — Hive's TRUNCATE on a transactional table.
    * `wrapped` = full-ACID (five-column wrapper schema); otherwise a
    * plain empty file (insert-only tables).
    */
  def writeTruncate(spark: SparkSession, tableDir: Path,
      schema: StructType, writeId: Long, wrapped: Boolean,
      padded: Boolean): Unit =
    if (!wrapped) {
      writeOrcFile(tableDir.resolve(baseName(writeId, padded)).resolve("empty")) {
        spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          .coalesce(1).write.mode("overwrite").orc(_)
      }
    } else writeTruncate(spark, tableDir, schema, writeId,
      padded = padded)

  /** An empty full-ACID base. */
  def writeTruncate(spark: SparkSession, tableDir: Path,
      schema: StructType, writeId: Long,
      padded: Boolean = true): Unit = {
    val acidSchema = StructType(Seq(
      StructField("operation", IntegerType),
      StructField("originalTransaction", LongType),
      StructField("bucket", IntegerType),
      StructField("rowId", LongType),
      StructField("currentTransaction", LongType),
      StructField("row", schema)))
    writeOrcFile(tableDir.resolve(baseName(writeId, padded)).resolve("bucket_00000")) {
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          acidSchema)
        .coalesce(1).write.mode("overwrite").orc(_)
    }
  }

  private def eachPartition(df: DataFrame, partCols: Seq[String])(
      f: (Seq[Any], DataFrame) => Unit): Unit =
    if (partCols.isEmpty) f(Nil, df)
    else df.select(partCols.map(col).toIndexedSeq: _*).distinct()
      .collect().foreach { r =>
        val vals = partCols.indices.map(r.get)
        val cond = partCols.zip(vals).map { case (c, v) =>
          col(c) <=> lit(v)
        }.reduce(_ && _)
        f(vals, df.where(cond))
      }

  private def writeBuckets(spark: SparkSession, tableDir: Path,
      wrapped: DataFrame, partCols: Seq[String], dirName: String): Unit =
    eachPartition(wrapped, partCols) { case (partVals, part) =>
      val buckets = part.select(col("_gf_bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      buckets.foreach { b =>
        writeOrcFile(partDirOf(tableDir, partCols, partVals)
            .resolve(dirName).resolve(f"bucket_$b%05d")) {
          part.where(col("_gf_bucket") === b)
            .drop("_gf_bucket").drop(partCols: _*)
            .coalesce(1)
            .sortWithinPartitions(col("originalTransaction"), col("rowId"))
            .write.mode("overwrite").orc(_)
        }
      }
    }
}
