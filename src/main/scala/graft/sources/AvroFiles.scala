package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file scan/sink on the Avro core library (present on
  * every Spark classpath) — no spark-avro DataSource required, so Avro
  * lakes read even on deployments that don't ship that jar. Mirrors the
  * reference's Avro scanner (`be/src/exec/hdfs-avro-scanner.h:86`:
  * schema from the container header, per-file record iteration) in
  * Spark terms: one task per file (Avro's split unit here), schema
  * mapped to Catalyst types, rows produced iterator-style.
  *
  * Type coverage: Avro primitives + nullable unions — the shapes the
  * reference's Avro tables use (complex Avro types are out of scope, as
  * in SURVEY §2.1).
  */
object AvroFiles {

  /** Catalyst → Avro record schema (nullable → union[null, T]). */
  def avroSchemaFor(schema: StructType, name: String = "row"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case StringType => Schema.create(Schema.Type.STRING)
        case LongType => Schema.create(Schema.Type.LONG)
        case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case other =>
          throw new IllegalArgumentException(s"unsupported for Avro: $other")
      }
      if (f.nullable)
        fs.name(f.name)
          .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
          .withDefault(null)
      else fs.name(f.name).`type`(base).noDefault()
    }.endRecord()
  }

  /** Avro → Catalyst (union[null, T] → nullable T; `int` with the
    * `date` logical annotation → DateType).
    */
  def structTypeFor(schema: Schema): StructType = {
    def field(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported union: $s")
        (field(nonNull.head)._1, true)
      case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
      case Schema.Type.LONG => (LongType, false)
      case Schema.Type.INT
          if s.getLogicalType != null &&
            s.getLogicalType.getName == "date" => (DateType, false)
      case Schema.Type.INT => (IntegerType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.BYTES | Schema.Type.FIXED
          if s.getLogicalType.isInstanceOf[
            org.apache.avro.LogicalTypes.Decimal] =>
        val d = s.getLogicalType
          .asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
        (DecimalType(d.getPrecision, d.getScale), false)
      case Schema.Type.BYTES | Schema.Type.FIXED => (BinaryType, false)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
    StructType(schema.getFields.asScala.map { f =>
      val (dt, nullable) = field(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)
  }

  private def toAvro(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  private def fromAvro(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case e: GenericData.EnumSymbol => e.toString
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case f: GenericData.Fixed => f.bytes()
    case x => x
  }

  /** Coerce one decoded Avro value to its Catalyst target — the only
    * extra case beyond [[fromAvro]] is logical-date (epoch-day int →
    * java.sql.Date, which GenericDatumReader leaves as a plain int
    * unless logical-type conversions are registered).
    */
  private def coerce(v: Any, dt: DataType): Any = (fromAvro(v), dt) match {
    case (null, _) => null
    case (i: Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (b: Array[Byte], d: DecimalType) =>
      // Avro decimal: two's-complement unscaled big-endian bytes
      new java.math.BigDecimal(new java.math.BigInteger(b), d.scale)
    case (x, _) => x
  }

  /** Distributed sink: each partition writes `part-NNNNN.avro` under
    * `path` via its own DataFileWriter (the per-partition imperative IO
    * case RDD code is for). Local-filesystem paths.
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    val avroJson = avroSchemaFor(schema).toString
    val dir = new java.io.File(path)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    dir.mkdirs()
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      val file = new java.io.File(dir, f"part-$idx%05d.avro")
      writer.create(avroSchema, file)
      var n = 0L
      rows.foreach { row =>
        val rec = new GenericData.Record(avroSchema)
        var i = 0
        while (i < row.length) {
          rec.put(i, if (row.isNullAt(i)) null else toAvro(row.get(i)))
          i += 1
        }
        writer.append(rec)
        n += 1
      }
      writer.close()
      Iterator.single(n)
    }.count() // force the write
  }

  /** Distributed scan: schema from the first container header, then one
    * task per file iterating its records.
    */
  def readAvro(spark: SparkSession, path: String): DataFrame = {
    val target = new java.io.File(path)
    val files =
      if (target.isFile) Array(target.getAbsolutePath)
      else Option(target.listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"no .avro files under $path")
    val head = new DataFileReader[GenericRecord](
      new java.io.File(files.head), new GenericDatumReader[GenericRecord]())
    val avroJson = try head.getSchema.toString finally head.close()
    val structType = structTypeFor(new Schema.Parser().parse(avroJson))
    val width = structType.size
    val targets = structType.fields.map(_.dataType)
    val rows = spark.sparkContext
      .parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val reader = new DataFileReader[GenericRecord](
          new java.io.File(f), new GenericDatumReader[GenericRecord]())
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = reader.hasNext
            if (!h) reader.close()
            h
          }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq((0 until width).map(i => coerce(rec.get(i), targets(i))))
          }
        }
      }
    spark.createDataFrame(rows, structType)
  }
}
