package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Formats

/** Round-trip specs for the file-format surface: what we write in each
  * format reads back identically (including NULLs and the Impala text
  * conventions).
  */
class FormatsSpec extends SparkSpecBase {

  private lazy val li = GraftSession.table(spark, sfDir, "lineitem")
    .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      col("l_returnflag"),
      // inject NULLs to exercise the \N marker
      nullif(col("l_linenumber"), lit(3)).as("ln"))

  private def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(hash(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      col("l_returnflag"), col("ln")).cast("long"))).head().getLong(0)

  test("Impala TEXT table roundtrip (ctrl-A delim, \\N nulls)") {
    val dir = GraftSession.tempDir("graft_text").toString
    Formats.writeTextTable(li, dir)
    val back = Formats.readTextTable(spark, dir, li.schema)
    assert(back.count() == li.count())
    assert(fingerprint(back) == fingerprint(li))
    // nulls survived the \N marker
    assert(back.filter(col("ln").isNull).count() ==
      li.filter(col("ln").isNull).count())
  }

  test("ORC roundtrip") {
    val dir = GraftSession.tempDir("graft_orc").toString
    Formats.writeOrc(li, dir)
    val back = Formats.readOrc(spark, dir)
    assert(fingerprint(back) == fingerprint(li))
  }

  test("JSON-lines roundtrip (schema-on-read)") {
    val dir = GraftSession.tempDir("graft_json").toString
    Formats.writeJsonLines(li, dir)
    val back = Formats.readJsonLines(spark, dir, Some(li.schema))
    assert(fingerprint(back) == fingerprint(li))
  }

  test("CSV with custom delimiter") {
    val dir = GraftSession.tempDir("graft_csv").toString
    li.write.mode("overwrite").option("delimiter", "|").csv(dir)
    val back = Formats.readCsv(spark, dir, li.schema, delim = "|")
    assert(back.count() == li.count())
  }

  test("Avro roundtrip (container files on the core library, nulls kept)") {
    val dir = GraftSession.tempDir("graft_avro").toString
    Formats.writeAvro(li, dir)
    val back = Formats.readAvro(spark, dir)
    assert(back.schema.fieldNames.toSeq == li.schema.fieldNames.toSeq)
    assert(back.count() == li.count())
    assert(fingerprint(back) == fingerprint(li))
    assert(back.filter(col("ln").isNull).count() ==
      li.filter(col("ln").isNull).count())
  }

  test("Avro schema mapping roundtrips Catalyst types") {
    import graft.sources.AvroFiles
    import org.apache.spark.sql.types._
    val st = StructType(Seq(
      StructField("s", StringType, nullable = true),
      StructField("l", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("f", FloatType, nullable = true),
      StructField("b", BooleanType, nullable = false),
      StructField("raw", BinaryType, nullable = true)))
    assert(AvroFiles.structTypeFor(AvroFiles.avroSchemaFor(st)) == st)
  }

  test("a truncated or bad-magic parquet file fails the scan, not reads as rows") {
    val src = GraftSession.tempDir("graft_pq_src").resolve("t").toFile
    li.coalesce(1).write.parquet(src.toString)
    val bytes = Files.readAllBytes(
      src.listFiles().find(_.getName.endsWith(".parquet")).get.toPath)
    val dir = GraftSession.tempDir("graft_pq_bad")
    // a parquet file ends in its footer and the magic "PAR1"
    Files.write(dir.resolve("truncated.parquet"),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    Files.write(dir.resolve("bad_magic.parquet"),
      bytes.dropRight(4) ++ "PAR0".getBytes("US-ASCII"))
    Seq("truncated", "bad_magic").foreach { name =>
      val e = intercept[Exception] {
        GraftSession.table(spark, dir.toString, name).collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" / ")
      assert(chain.contains(s"$name.parquet"), chain)
    }
  }
}
