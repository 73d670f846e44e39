package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

import graft.sources.{AcidFiles, AcidLayout}
import graft.sources.AcidFiles.WriteIds

/** The Hive ACID layout writer/reader pair: base/delta selection,
  * delete-delta anti-join, per-row write-id validation, original-file
  * row__id synthesis — pinned against the reference's own fixture
  * files and the goldens' expected row__id values
  * (full-acid-rowid.test, acid-row-validation-*.test).
  */
class AcidSpec extends SparkSpecBase {

  private lazy val wh = GraftSession.tempDir("graft-acid-spec")

  test("insert delta round-trip with row__id") {
    import spark.implicits._
    val dir = wh.resolve("t1")
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("i", "s")
    AcidLayout.writeInsert(spark, dir, df, 1, 1)
    val out = AcidFiles.readFullAcid(spark, dir.toString)
    assert(out.columns.toSeq == Seq("i", "s", "row__id"))
    val rows = out.select($"i", $"s", $"row__id.operation",
      $"row__id.originaltransaction", $"row__id.bucket", $"row__id.rowid",
      $"row__id.currenttransaction").orderBy($"i").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getInt(2),
      r.getLong(3), r.getInt(4), r.getLong(5), r.getLong(6))).toSeq == Seq(
      (1, "a", 0, 1L, 536870912, 0L, 1L),
      (2, "b", 0, 1L, 536870912, 1L, 1L),
      (3, "c", 0, 1L, 536870912, 2L, 1L)))
  }

  test("delete delta anti-join and update-style rewrite") {
    import spark.implicits._
    val dir = wh.resolve("t2")
    AcidLayout.writeInsert(spark, dir,
      Seq(1, 2, 3).toDF("i"), 1, 1)
    // delete i=2 (writeId 2)
    AcidLayout.writeDelete(spark, dir,
      Seq((1L, 536870912, 1L))
        .toDF("originalTransaction", "bucket", "rowId"), 2)
    val out = AcidFiles.readFullAcid(spark, dir.toString)
    assert(out.select($"i").as[Int].collect().sorted.toSeq == Seq(1, 3))
    // update i = i+1 (writeId 3): delete remaining + insert new rows
    AcidLayout.writeDelete(spark, dir,
      Seq((1L, 536870912, 0L), (1L, 536870912, 2L))
        .toDF("originalTransaction", "bucket", "rowId"), 3)
    AcidLayout.writeInsert(spark, dir, Seq(2, 4).toDF("i"), 3, 3)
    val out2 = AcidFiles.readFullAcid(spark, dir.toString)
    assert(out2.select($"i").as[Int].collect().sorted.toSeq == Seq(2, 4))
    // insert overwrite → base_4 hides all deltas
    AcidLayout.writeInsert(spark, dir, Seq(1000).toDF("i"), 4, 4,
      asBase = true)
    val out3 = AcidFiles.readFullAcid(spark, dir.toString)
    assert(out3.select($"i").as[Int].collect().toSeq == Seq(1000))
  }

  test("partitioned table: partition columns, scoped deletes") {
    import spark.implicits._
    val dir = wh.resolve("t3")
    val df = Seq((0, 0), (1, 0), (2, 0), (0, 1), (1, 1), (2, 1))
      .toDF("id", "p")
    AcidLayout.writeInsert(spark, dir, df, 1, 1, partCols = Seq("p"))
    // delete (p=1, id=0) — rowid 0 in partition p=1 only
    AcidLayout.writeDelete(spark, dir,
      Seq((1, 1L, 536870912, 0L)).toDF("p", "originalTransaction",
        "bucket", "rowId"), 2, partCols = Seq("p"))
    val out = AcidFiles.readFullAcid(spark, dir.toString,
      StructType(Seq(StructField("p", IntegerType))))
    assert(out.columns.toSeq == Seq("id", "p", "row__id"))
    assert(out.select($"id", $"p").as[(Int, Int)].collect().sorted.toSeq ==
      Seq((0, 0), (1, 0), (1, 1), (2, 0), (2, 1)))
  }

  test("minor-compacted delta keeps per-row write ids") {
    import spark.implicits._
    val dir = wh.resolve("t4")
    val df = Seq((1, 1L), (2, 2L), (3, 3L)).toDF("i", "wid")
    AcidLayout.writeInsert(spark, dir, df, 1, 3,
      writeIdCol = Some("wid"), compactionV = Some(4))
    val out = AcidFiles.readFullAcid(spark, dir.toString)
    val rows = out.select($"i", $"row__id.originaltransaction",
      $"row__id.rowid", $"row__id.currenttransaction")
      .orderBy($"i").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq((1, 1L, 0L, 1L), (2, 2L, 0L, 2L), (3, 3L, 0L, 3L)))
  }

  test("streaming delta row validation (acid-row-validation goldens)") {
    val dir = wh.resolve("streaming")
    Files.createDirectories(dir.resolve("delta_0000001_0000002"))
    Files.copy(Paths.get("/root/reference/testdata/data/streaming.orc"),
      dir.resolve("delta_0000001_0000002/streaming.orc"),
      StandardCopyOption.REPLACE_EXISTING)
    def count(ids: WriteIds): Long =
      AcidFiles.readFullAcid(spark, dir.toString, ids = ids).count()
    assert(count(WriteIds(2, open = Set(1L, 2L))) == 0) // -0: none committed
    assert(count(WriteIds(2, open = Set(2L))) == 2)     // -1: txn 1 committed
    assert(count(WriteIds(2)) == 4)                     // -2: all committed
    val ab = AcidFiles.readFullAcid(spark, dir.toString,
        ids = WriteIds(2, open = Set(2L)))
      .selectExpr("a", "b").collect().map(r => (r.getString(0), r.getString(1)))
    assert(ab.sorted.toSeq == Seq(("a1", "b2"), ("a3", "b4")))
  }

  test("original file synthesis (full-acid-original-file goldens)") {
    val dir = wh.resolve("promoted")
    Files.createDirectories(dir)
    Files.copy(
      Paths.get("/root/reference/testdata/data/alltypes_non_acid.orc"),
      dir.resolve("000000_0"), StandardCopyOption.REPLACE_EXISTING)
    val out = AcidFiles.readFullAcid(spark, dir.toString)
    assert(out.count() == 7300)
    val r = out.where(col("id") === 0)
      .select(col("row__id.operation"), col("row__id.originaltransaction"),
        col("row__id.bucket"), col("row__id.rowid"),
        col("row__id.currenttransaction")).head()
    assert((r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
      r.getLong(4)) == ((0, 0L, 536870912, 4030L, 0L)))
  }

  test("truncate base hides everything; originals hidden by base") {
    import spark.implicits._
    val dir = wh.resolve("t5")
    AcidLayout.writeOriginal(spark, dir, Seq(1, 2).toDF("i"))
    assert(AcidFiles.readFullAcid(spark, dir.toString).count() == 2)
    AcidLayout.writeTruncate(spark, dir,
      StructType(Seq(StructField("i", IntegerType))), 1)
    val sel = AcidFiles.select(dir)
    assert(sel.originals.isEmpty && sel.inserts.nonEmpty)
    assert(AcidFiles.readFullAcid(spark, dir.toString).count() == 0)
  }

  test("insert-only read selects files without wrapper") {
    import spark.implicits._
    val dir = wh.resolve("t6")
    // insert-only deltas hold plain files
    val tmp = GraftSession.tempDir("graft-acid-io")
    Seq(1, 2).toDF("x").coalesce(1).write.mode("overwrite")
      .orc(tmp.resolve("d").toString)
    val part = {
      val s = Files.list(tmp.resolve("d"))
      try s.iterator().asScala.find(_.toString.endsWith(".orc")).get
      finally s.close()
    }
    Files.createDirectories(dir.resolve("delta_0000001_0000001"))
    Files.copy(part, dir.resolve("delta_0000001_0000001/000000_0"))
    val out = AcidFiles.readInsertOnly(spark, dir.toString)
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

}
