package graft.sources

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Exact in-memory replica of the reference's deterministic functional
  * test tables (`java/datagenerator/.../TestDataGenerator.java`,
  * loaded per `testdata/datasets/functional/functional_schema_template
  * .sql`): `alltypes` (7300 rows, 24 month partitions 2009-2010),
  * `alltypessmall` (100 rows, 4×25), `alltypestiny` (8 rows, 4×2) and
  * `alltypesagg` (11000 rows: 10×1000 day partitions of 2010-01 plus
  * the day=NULL copy of the tinyint-NULL rows).
  *
  * Faithfulness notes (all verified against golden `---- RESULTS`
  * rows in the reference's own `.test` files):
  *   - the generator writes each row's timestamp with
  *     `SimpleDateFormat("...ss.S")`, whose minimum-width millisecond
  *     field REPARSES with trailing-zero padding: a 10 ms drift prints
  *     ".10" and loads back as 100 ms (`00:02:00.100000000` in
  *     except.test's alltypessmall dump). Replicated by right-padding
  *     the raw millisecond field to 3 digits.
  *   - per-day drift: each tuple advances the calendar 1 minute +
  *     `bigint_col` (=10·int_col) ms, and the +1 DAY hop preserves the
  *     accumulated wall offset, so day d starts at d·10 minutes +
  *     d·450 raw ms past midnight.
  *   - the generator runs in America/Los_Angeles: on 2010-03-14 the
  *     day hop lands on the nonexistent 02:10 spring-forward wall time
  *     and resolves +1 h, which then persists wall-preserved for the
  *     rest of that month — replicated for (2010, March, day index
  *     ≥ 13). 2009's transition (Mar 8, tuples at 01:1x) never hits
  *     the gap; fall-back days print the same wall time either way.
  */
object FunctionalTables {

  /** Header-table registry for the MAX_SCAN_RANGE_LENGTH header-split
    * error (`hdfs-text-scanner.cc:745-751`): table name →
    * (skip.header.line.count, byte offsets past each header line's
    * newline). A multi-line header that does not fit the first scan
    * range fails the scan.
    */
  val headerTables =
    scala.collection.mutable.HashMap.empty[String, (Int, Seq[Long])]

  /** Tables whose data carries rows the reference's scanner REJECTS:
    * under ABORT_ON_ERROR=1 the scan fails with the per-format message
    * (hdfs-scanner.cc error path); under 0 the rejected rows read NULL
    * with a logged warning — the registered views' steady-state.
    */
  val abortOnErrorTables =
    scala.collection.mutable.HashMap.empty[String, String]

  /** The reference checkout's `testdata/` dir (`GRAFT_REF_TESTDATA`
    * overrides); the tables read from it register only where it exists.
    */
  val refRoot: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("GRAFT_REF_TESTDATA", "/root/reference/testdata"))

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("bool_col", BooleanType, nullable = false),
    StructField("tinyint_col", ByteType, nullable = true),
    StructField("smallint_col", ShortType, nullable = true),
    StructField("int_col", IntegerType, nullable = true),
    StructField("bigint_col", LongType, nullable = true),
    StructField("float_col", FloatType, nullable = true),
    StructField("double_col", DoubleType, nullable = true),
    StructField("date_string_col", StringType, nullable = false),
    StructField("string_col", StringType, nullable = false),
    StructField("timestamp_col", TimestampType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false)))

  private val aggSchema = StructType(
    schema.fields :+ StructField("day", IntegerType, nullable = true))

  private def daysInMonth(y: Int, m: Int): Int =
    java.time.YearMonth.of(y, m).lengthOfMonth()

  /** SimpleDateFormat("S") prints the raw ms field with minimum width;
    * reloading interprets it as a decimal fraction — i.e. right-padded
    * to 3 digits.
    */
  private def padRight3(ms: Int): Int =
    if (ms == 0) 0 else if (ms < 10) ms * 100 else if (ms < 100) ms * 10 else ms

  /** Timestamp of tuple (d = 0-based day index, i = int_col) of an
    * alltypes-family partition starting (y, m): real seconds carry from
    * the accumulated drift, the final ms field gets the reparse pad.
    */
  private def tupleTs(y: Int, m: Int, d: Int, i: Int,
      minutesBase: Int, rawMsBase: Int): java.sql.Timestamp = {
    val raw = rawMsBase + 5 * i * (i - 1)
    val totalMsReal = (minutesBase + i) * 60000L + raw
    val secs = totalMsReal / 1000
    val effMs = padRight3((totalMsReal % 1000).toInt)
    // 2010-03 spring-forward resolution (see class doc)
    val dstShift = if (y == 2010 && m == 3 && d >= 13) 3600L else 0L
    val ldt = LocalDateTime.of(y, m, d + 1, 0, 0, 0)
      .plusSeconds(secs + dstShift)
      .plusNanos(effMs * 1000000L)
    java.sql.Timestamp.valueOf(ldt)
  }

  private def dateString(y: Int, m: Int, d: Int): String =
    f"$m%02d/${d + 1}%02d/${y % 100}%02d"

  /** One alltypes-family partition (GenerateAllTypesPartition):
    * `intsPerDay` tuples per day, capped at `maxTuples`; id continues
    * from `idStart`. Returns the rows (without the agg `day` column).
    */
  private def partitionRows(y: Int, m: Int, idStart: Int, intsPerDay: Int,
      maxTuples: Int, writeNulls: Boolean, singleDay: Int = -1): Seq[Row] = {
    val days = if (singleDay >= 0) 1 else daysInMonth(y, m)
    val n = math.min(days * intsPerDay, maxTuples)
    (0 until n).map { r =>
      val d = if (singleDay >= 0) singleDay else r / intsPerDay
      val i = r % intsPerDay
      val id = idStart + r
      val nullInt = writeNulls && i == 0
      val minutesBase = if (singleDay >= 0) 0 else d * 10
      val rawMsBase = if (singleDay >= 0) 0 else d * 450
      Row(
        id,
        id % 2 == 0,
        if (writeNulls && i % 10 == 0) null else (i % 10).toByte,
        if (writeNulls && i % 100 == 0) null else (i % 100).toShort,
        if (nullInt) null else i,
        if (nullInt) null else i.toLong * 10,
        if (nullInt) null else (1.1 * i).toFloat, // (float)(1.1 * int_col)
        if (nullInt) null else 10.1 * i,
        dateString(y, m, d),
        String.valueOf(i),
        tupleTs(y, m, d, i, minutesBase, rawMsBase),
        y, m)
    }
  }

  /** alltypes / alltypessmall / alltypestiny (GenerateAllTypesData):
    * sequential month partitions from (endYear − max(parts/12 − 1, 1)).
    */
  private def allTypesFamily(numPartitions: Int, maxTuples: Int): Seq[Row] = {
    val startYear = 2010 - math.max(numPartitions / 12 - 1, 1)
    var id = 0
    (0 until numPartitions).flatMap { p =>
      val y = startYear + (p / 12)
      val m = p % 12 + 1
      val rows = partitionRows(y, m, id, 10, maxTuples, writeNulls = false)
      id += rows.size
      rows
    }
  }

  /** alltypesagg(nonulls): 10 single-day partitions of 1000 (2010-01);
    * alltypesagg additionally carries the schema template's day=NULL
    * partition — a copy of every tinyint-NULL row with day NULL
    * (DEPENDENT_LOAD insert) — and nulls per the generator's
    * writeNulls flag (TestDataGenerator GenerateAllTypesAggData).
    */
  private def allTypesAgg(writeNulls: Boolean, nullDayCopy: Boolean): Seq[Row] = {
    var id = 0
    val base = (0 until 10).flatMap { d =>
      val rows = partitionRows(2010, 1, id, 1000, 1000, writeNulls,
        singleDay = d)
      id += rows.size
      rows.map(r => Row.fromSeq(r.toSeq :+ Int.box(d + 1)))
    }
    if (!nullDayCopy) return base
    val nullDay = base.filter(_.isNullAt(2)) // tinyint_col IS NULL
      .map(r => Row.fromSeq(r.toSeq.init :+ null))
    base ++ nullDay
  }

  /** The reference's hand-maintained CSV fixtures
    * (`testdata/datasets/functional/functional_schema_template.sql`
    * LOAD sections). Loaded with Hive LazySimpleSerDe text semantics:
    * naive comma split (NO quote handling — the zipcode_incomes
    * quoted-description fields keep their quotes, exactly as the
    * reference's text tables do), `\N` as NULL, empty string
    * non-null for STRING, unparseable numerics → NULL, whitespace
    * preserved.
    */
  private val csvTables: Seq[(String, String, String)] = Seq(
    ("liketbl", "LikeTbl/data.csv",
      "str_col string, match_like_col string, no_match_like_col string, " +
        "match_regex_col string, no_match_regex_col string"),
    ("nulltable", "NullTable/data.csv",
      "a string, b string, c string, d int, e double, f string, g string"),
    ("nullrows", "NullRows/data.csv",
      "id string, blank string, null_str string, null_int int, " +
        "null_double double, group_str string, some_nulls string, " +
        "bool_nulls boolean"),
    ("jointbl", "JoinTbl/data.csv",
      "test_id bigint, test_name string, test_zip int, alltypes_id int"),
    ("dimtbl", "DimTbl/data.csv", "id bigint, name string, zip int"),
    ("tinytable", "TinyTable/data.csv", "a string, b string"),
    ("zipcode_incomes", "ImpalaDemoDataset/DEC_00_SF3_P077_with_ann_noheader.csv",
      "id string, zip string, description1 string, description2 string, " +
        "income int"))

  /** Load a reference text fixture with Hive LazySimpleSerDe
    * semantics: naive comma split (no quote handling), `\\N` → NULL,
    * empty STRING fields stay empty strings (not NULL), unparseable
    * numerics → NULL, whitespace and embedded NUL bytes preserved,
    * missing trailing fields → NULL.
    */
  private def loadTextSerde(path: java.nio.file.Path, sch: StructType,
      extra: Seq[Any] = Nil, delim: String = ",",
      escaped: Boolean = false): Seq[Row] = {
    val text = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val n = sch.fields.length - extra.length
    // Hadoop LineRecordReader: records split on LF, CR or CRLF;
    // interior empty lines are records, a trailing separator is not
    val split = text.split("\r\n|\r|\n", -1)
    val lines =
      (if (split.nonEmpty && split.last.isEmpty) split.init else split).toSeq
    lines.map { line =>
      val fields =
        if (delim.isEmpty) Array(line)
        else line.split(java.util.regex.Pattern.quote(delim), -1)
      val vals = (0 until n).map { i =>
        if (i >= fields.length) null
        else {
          val raw = fields(i)
          if (raw == "\\N") null
          else convertField(if (escaped) unescape(raw) else raw,
            sch.fields(i).dataType)
        }
      }
      Row.fromSeq(vals ++ extra)
    }
  }

  /** LazySimpleSerDe with CUSTOM field terminator, escape char and
    * line terminator (delimited-text.test tables): records split on
    * the line terminator; within a record, an escape char protects the
    * NEXT char from acting as a delimiter; escape processing then maps
    * `<esc>x` → `x` (the serde's unescape, for any x).
    */
  private def loadCustomDelimited(path: java.nio.file.Path,
      sch: StructType, delim: Char, esc: Char, lineSep: Char): Seq[Row] = {
    val text = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val fields = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = new StringBuilder
    var curFields = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    def endField(): Unit = { curFields += cur.toString; cur = new StringBuilder }
    def endRecord(): Unit = {
      endField()
      fields += curFields.toSeq
      curFields = scala.collection.mutable.ArrayBuffer.empty[String]
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == esc && i + 1 < text.length) {
        // keep the raw pair; the `\N` null check below must see raw
        // bytes, unescape happens per-field afterwards
        cur.append(c).append(text.charAt(i + 1)); i += 2
      } else if (c == delim) { endField(); i += 1 }
      else if (c == lineSep) { endRecord(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    if (cur.nonEmpty || curFields.nonEmpty) endRecord()
    def unesc(s: String): String = {
      val b = new StringBuilder
      var j = 0
      while (j < s.length) {
        if (s.charAt(j) == esc && j + 1 < s.length) {
          b.append(s.charAt(j + 1)); j += 2
        } else { b.append(s.charAt(j)); j += 1 }
      }
      b.toString
    }
    val n = sch.fields.length
    fields.toSeq.map { fs =>
      Row.fromSeq((0 until n).map { j =>
        if (j >= fs.length) null
        else if (fs(j) == "\\N") null
        else convertField(unesc(fs(j)), sch.fields(j).dataType)
      })
    }
  }

  /** LazySimpleSerDe escape processing: `\x` → `x` for any byte x. */
  private def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Impala's text scanner saturates out-of-range integers (strtol
    * semantics, `be/src/util/string-parser.h` StringToIntInternal) —
    * unlike Hive's null-on-overflow.
    */
  private def clampedIntegral(raw: String, min: Long, max: Long): Any = {
    val bi = new java.math.BigInteger(raw.trim)
    if (bi.compareTo(java.math.BigInteger.valueOf(max)) > 0) max
    else if (bi.compareTo(java.math.BigInteger.valueOf(min)) < 0) min
    else bi.longValue()
  }

  private val dateRe = """(\d{1,4})-(\d{1,2})-(\d{1,2})""".r

  private val tsRe =
    """(\d{1,4})-(\d{1,2})-(\d{1,2})(?:[ T](\d{1,2}:\d{1,2}:\d{1,2})(?:\.(\d+))?)?""".r

  private def convertField(raw: String, t: DataType): Any = {
    if (raw == "\\N") return null
    try t match {
      case StringType => raw
      case IntegerType =>
        clampedIntegral(raw, Int.MinValue, Int.MaxValue)
          .asInstanceOf[Long].toInt
      case LongType =>
        clampedIntegral(raw, Long.MinValue, Long.MaxValue)
          .asInstanceOf[Long]
      case ShortType =>
        clampedIntegral(raw, Short.MinValue, Short.MaxValue)
          .asInstanceOf[Long].toShort
      case ByteType =>
        clampedIntegral(raw, Byte.MinValue, Byte.MaxValue)
          .asInstanceOf[Long].toByte
      case DoubleType => raw.trim.toDouble
      case FloatType => raw.trim.toFloat
      case BooleanType => raw.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => null
      }
      case d: DecimalType =>
        // LazySimpleSerDe nulls out-of-range values rather than erroring
        val bd = new java.math.BigDecimal(raw.trim)
          .setScale(d.scale, java.math.RoundingMode.HALF_UP)
        if (bd.precision > d.precision) null else bd
      case DateType => raw.trim match {
        case dateRe(y, m, dd) =>
          java.sql.Date.valueOf(java.time.LocalDate.of(y.toInt, m.toInt, dd.toInt))
        case _ => null
      }
      // Impala text-scanner TIMESTAMP conversion: `yyyy-MM-dd
      // [HH:mm:ss[.fraction]]`; a dateless (time-only) or malformed
      // value converts to NULL with a per-row error
      // (be/src/runtime/timestamp-parse-util.cc)
      case TimestampType => raw.trim match {
        case tsRe(y, m, dd, hms, frac) =>
          val ldt = java.time.LocalDateTime.of(y.toInt, m.toInt, dd.toInt,
            0, 0, 0).plusNanos(0)
          val base = Option(hms) match {
            case Some(t) =>
              val Array(h, mi, s) = t.split(":").map(_.toInt)
              ldt.withHour(h).withMinute(mi).withSecond(s)
            case None => ldt
          }
          val nanos = Option(frac)
            .map(f => f.padTo(9, '0').take(9).toLong).getOrElse(0L)
          java.sql.Timestamp.valueOf(base.plusNanos(nanos / 1000 * 1000))
        case _ => null
      }
      case _ => raw
    } catch { case _: Exception => null }
  }

  /** Register all functional tables as temp views. */
  def register(spark: SparkSession): Unit = {
    def mk(rows: Seq[Row], sch: StructType, name: String): Unit = {
      val df: DataFrame = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), sch)
      df.createOrReplaceTempView(name)
    }
    mk(allTypesFamily(24, 310), schema, "alltypes")
    mk(allTypesFamily(4, 25), schema, "alltypessmall")
    mk(allTypesFamily(4, 2), schema, "alltypestiny")
    // alltypesnopart (schema template): alltypes' data columns, no
    // partitions, loaded EMPTY — compute-stats.test clones its shape
    mk(Nil, StructType(schema.fields.dropRight(2)), "alltypesnopart")
    // widetable_1000_cols (testdata/common/widetable.py get_columns /
    // get_data): 125 groups of 8 columns cycling bool/tinyint/smallint/
    // int/bigint/float/double/string; per-column generators yield
    // True/False alternation, 0..4 repeating ints, (i%5)*1.1 floats —
    // 10 rows
    locally {
      val wideFields = (0 until 1000).map { i =>
        val g = i / 8 + 1
        (i % 8) match {
          case 0 => StructField(s"bool_col$g", BooleanType)
          case 1 => StructField(s"tinyint_col$g", ByteType)
          case 2 => StructField(s"smallint_col$g", ShortType)
          case 3 => StructField(s"int_col$g", IntegerType)
          case 4 => StructField(s"bigint_col$g", LongType)
          case 5 => StructField(s"float_col$g", FloatType)
          case 6 => StructField(s"double_col$g", DoubleType)
          case 7 => StructField(s"string_col$g", StringType)
        }
      }
      val wideRows = (0 until 10).map { r =>
        Row.fromSeq((0 until 1000).map { i =>
          (i % 8) match {
            case 0 => java.lang.Boolean.valueOf(r % 2 == 0)
            case 1 => java.lang.Byte.valueOf((r % 5).toByte)
            case 2 => java.lang.Short.valueOf((r % 5).toShort)
            case 3 => java.lang.Integer.valueOf(r % 5)
            case 4 => java.lang.Long.valueOf((r % 5).toLong)
            case 5 => java.lang.Float.valueOf(((r % 5) * 1.1).toFloat)
            case 6 => java.lang.Double.valueOf((r % 5) * 1.1)
            case 7 => String.valueOf(r % 5)
          }
        })
      }
      mk(wideRows, StructType(wideFields), "widetable_1000_cols")
    }
    mk(allTypesAgg(writeNulls = true, nullDayCopy = true), aggSchema,
      "alltypesagg")
    // alltypes_deleted_rows (schema template:528-560): the alltypes
    // generator data as a full-ACID ORC table from which Hive deleted
    // the year%2=0 AND month%2=0 AND id%10=0 rows (full-acid-scans.test
    // pins both the survivor counts and the zero-match probe)
    spark.table("alltypes")
      .where("NOT (year % 2 = 0 AND month % 2 = 0 AND id % 10 = 0)")
      .createOrReplaceTempView("alltypes_deleted_rows")
    // full-ACID row__id twin of alltypestiny (full-acid-rowid.test):
    // one original transaction, ACID bucket 0 (encoded 536870912), two
    // rows per partition file → rowid = id % 2
    spark.table("alltypestiny").selectExpr("*",
      "named_struct('operation', 0, " +
        "'originaltransaction', CAST(1 AS BIGINT), " +
        "'bucket', CAST(536870912 AS INT), " +
        "'rowid', CAST(id % 2 AS BIGINT), " +
        "'currenttransaction', CAST(1 AS BIGINT)) AS row__id")
      .createOrReplaceTempView("alltypestiny__acid")
    // stringpartitionkey (schema template:1385-1397): id int partitioned
    // by the STRING render of alltypestiny's timestamp_col, plus two
    // statically-added empty partitions
    spark.table("alltypestiny")
      .selectExpr("id",
        "date_format(timestamp_col, 'yyyy-MM-dd HH:mm:ss') AS string_col")
      .createOrReplaceTempView("stringpartitionkey")
    mk(allTypesAgg(writeNulls = false, nullDayCopy = false), aggSchema,
      "alltypesaggnonulls")

    if (java.nio.file.Files.isDirectory(refRoot)) {
      csvTables.foreach { case (name, rel, ddl) =>
        val p = refRoot.resolve(rel)
        if (java.nio.file.Files.isRegularFile(p)) {
          val sch = StructType.fromDDL(ddl)
          mk(loadTextSerde(p, sch), sch, name)
        }
      }
      // decimal_tbl (data/decimal_tbl.txt + constant partition d6=1)
      val dec = refRoot.resolve("data/decimal_tbl.txt")
      if (java.nio.file.Files.isRegularFile(dec)) {
        val sch = StructType.fromDDL(
          "d1 decimal(9,0), d2 decimal(10,0), d3 decimal(20,10), " +
            "d4 decimal(38,38), d5 decimal(10,5), d6 decimal(9,0)")
        mk(loadTextSerde(dec, sch,
          extra = Seq(new java.math.BigDecimal(1))), sch, "decimal_tbl")
      }
      // date_tbl (one file per date_part partition)
      val dateParts = Seq("0000.txt" -> "0001-01-01", "0001.txt" -> "1399-06-27",
        "0002.txt" -> "2017-11-27", "0003.txt" -> "9999-12-31")
      val dateDir = refRoot.resolve("data/date_tbl")
      if (java.nio.file.Files.isDirectory(dateDir)) {
        val sch = StructType.fromDDL("id_col int, date_col date, date_part date")
        val rows = dateParts.flatMap { case (f, part) =>
          val fp = dateDir.resolve(f)
          if (!java.nio.file.Files.isRegularFile(fp)) Nil
          else loadTextSerde(fp, sch,
            extra = Seq(java.sql.Date.valueOf(part)))
        }
        if (rows.nonEmpty) mk(rows, sch, "date_tbl")
      }
    }
    registerAvroResolutionTables(spark, refRoot)
    // emptytable: declared partitioned, never loaded
    spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL("field string, f2 int"))
      .createOrReplaceTempView("emptytable")
    registerComplexTypesTbl(spark)
    registerAuxTables(spark)
    registerSchemaViews(spark)
  }

  /** The Avro schema-resolution workload's fixture tables
    * (`testdata/avro_schema_resolution/create_table.sql`,
    * avro-schema-resolution.test):
    *
    *   - `schema_resolution_test`: the shipped records1/records2.avro
    *     container files — each written under a DIFFERENT writer schema
    *     — resolved against the table's reader schema (the
    *     `avro.schema.literal` of create_table.sql) via
    *     [[AvroFiles.readAvroResolved]].
    *   - `no_avro_schema` (schema template:2241-2265): the alltypes
    *     generator data under Avro's inferred-from-coldefs schema, with
    *     exactly the two partitions the template ALTERs in —
    *     (2009,9) and (2010,10); tinyint/smallint promote to INT and
    *     TIMESTAMP to STRING (Avro has neither type).
    *   - `avro_coldef` / `avro_extra_coldef` (IMPALA-2798): two tables
    *     over ONE directory; each INSERT lands the first five alltypes
    *     rows in its own partition, so both tables see both partitions.
    *     The extra column reads its Avro default ("null") in the files
    *     written without it, and timestamp_col is BIGINT per the
    *     `avro.schema.literal` (long wins over the coldef).
    */
  private def registerAvroResolutionTables(spark: SparkSession,
      refRoot: java.nio.file.Path): Unit = {
    val avroDir = refRoot.resolve("avro_schema_resolution")
    val recs = Seq("records1.avro", "records2.avro").map(avroDir.resolve)
    if (recs.forall(java.nio.file.Files.isRegularFile(_))) {
      // reader schema = create_table.sql's avro.schema.literal
      val readerSchema = """{
        "name": "a", "type": "record", "fields": [
          {"name":"boolean1", "type":"boolean", "default": true},
          {"name":"int1",     "type":"int",     "default": 1},
          {"name":"long1",    "type":"long",    "default": 1},
          {"name":"float1",   "type":"float",   "default": 1.0},
          {"name":"double1",  "type":"double",  "default": 1.0},
          {"name":"date1",    "type": {"type": "int", "logicalType": "date"}, "default": 1},
          {"name":"string1",  "type":"string",  "default": "default string"},
          {"name":"string2",  "type": ["string", "null"],  "default": ""},
          {"name":"string3",  "type": ["null", "string"],  "default": null}
        ]}"""
      AvroFiles.readAvroResolved(spark, recs.map(_.toString), readerSchema)
        .createOrReplaceTempView("schema_resolution_test")
    }
    // avro_decimal_tbl (schema template:2230-2238): the shipped
    // container file, decimal logical type decoded by AvroFiles
    val decAvro = refRoot.resolve("data/avro_decimal_tbl.avro")
    if (java.nio.file.Files.isRegularFile(decAvro))
      AvroFiles.readAvro(spark, decAvro.toString)
        .createOrReplaceTempView("avro_decimal_tbl")
    val at = spark.table("alltypes")
    // alltypesmixedformat (testdata/bin/load-dependent-tables.sql:26-60):
    // months 1-4 of alltypes year=2009, one partition per physical
    // format (text/seq/rc/parquet) — the format mix is incidental to
    // the row values
    at.where("year = 2009 AND month <= 4")
      .createOrReplaceTempView("alltypesmixedformat")
    at.where("(year = 2009 AND month = 9) OR (year = 2010 AND month = 10)")
      .selectExpr("id", "bool_col", "CAST(tinyint_col AS INT) AS tinyint_col",
        "CAST(smallint_col AS INT) AS smallint_col", "int_col", "bigint_col",
        "float_col", "double_col", "date_string_col", "string_col",
        "date_format(timestamp_col, 'yyyy-MM-dd HH:mm:ss') AS timestamp_col",
        "year", "month")
      .createOrReplaceTempView("no_avro_schema")
    val five = at.orderBy("id").limit(5)
      .selectExpr("bool_col", "CAST(tinyint_col AS INT) AS tinyint_col",
        "CAST(smallint_col AS INT) AS smallint_col", "int_col", "bigint_col",
        "float_col", "double_col", "date_string_col", "string_col",
        "unix_millis(timestamp_col) AS timestamp_col")
    val part1 = five.selectExpr("*", "2014 AS year", "1 AS month")
    val part2 = five.selectExpr("*", "2014 AS year", "2 AS month")
    part1.unionAll(part2).createOrReplaceTempView("avro_coldef")
    part1.selectExpr("bool_col", "tinyint_col", "smallint_col", "int_col",
        "bigint_col", "float_col", "double_col", "date_string_col",
        "string_col", "timestamp_col", "'null' AS extra_col", "year", "month")
      .unionAll(part2.selectExpr("bool_col", "tinyint_col", "smallint_col",
        "int_col", "bigint_col", "float_col", "double_col",
        "date_string_col", "string_col", "timestamp_col",
        "'avro' AS extra_col", "year", "month"))
      .createOrReplaceTempView("avro_extra_coldef")
  }

  /** The functional schema's VIEWs (functional_schema_template.sql:
    * 1093-1134): alltypes_view (SELECT *), alltypes_view_sub (renamed
    * 3-column projection), complex_view (agg-join-having-limit), and
    * alltypes_hive_view (Hive-created SELECT * — IMPALA-994's
    * metadata quirk is a catalog artifact; the view body is alltypes).
    */
  private def registerSchemaViews(spark: SparkSession): Unit = {
    spark.sql("SELECT * FROM alltypes").createOrReplaceTempView("alltypes_view")
    // view_view (template:1136-1141): a view over alltypes_view
    spark.sql("SELECT * FROM alltypes_view")
      .createOrReplaceTempView("view_view")
    spark.sql(
      """SELECT int_col AS x, string_col AS y, timestamp_col AS z
        |FROM alltypes""".stripMargin)
      .createOrReplaceTempView("alltypes_view_sub")
    spark.sql(
      """SELECT COUNT(a.bigint_col) AS abc, b.string_col AS xyz
        |FROM alltypesagg a INNER JOIN alltypestiny b ON a.id = b.id
        |WHERE a.bigint_col < 50
        |GROUP BY b.string_col HAVING COUNT(a.bigint_col) > 1
        |ORDER BY b.string_col LIMIT 100""".stripMargin)
      .createOrReplaceTempView("complex_view")
    spark.sql("SELECT * FROM alltypes")
      .createOrReplaceTempView("alltypes_hive_view")
  }

  /** Smaller auxiliary fixtures referenced by the golden files:
    *
    *   - `decimal_tiny` / `tinyinttable` / `greptiny`: schema-template
    *     text tables (`functional_schema_template.sql:2092/1425/1247`);
    *     greptiny keeps whole lines (default Ctrl-A delimiters, data
    *     contains commas).
    *   - `semijointbla/b`: the 7-row inline tables
    *     `tests/query_test/test_join_queries.py:173-193` creates for
    *     the semi-joins workload.
    *   - `chars_formats`: `testdata/data/chars-formats.parquet` with
    *     the DDL's position-mapped CHAR/VARCHAR schema
    *     (`testdata/bin/load-dependent-tables.sql:76-79`) — CHAR(n)
    *     pads, VARCHAR(n) truncates, as the reference's ScalarType
    *     semantics require.
    */
  private def registerAuxTables(spark: SparkSession): Unit = {
    def mk(rows: Seq[Row], sch: StructType, name: String): Unit =
      spark.createDataFrame(new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
        .createOrReplaceTempView(name)

    val semiSchema = StructType.fromDDL("a int, b int, c int")
    mk(Seq(Row(1, 1, 1), Row(1, 1, 10), Row(1, 2, 10), Row(1, 3, 10),
      Row(null, null, 30), Row(2, 4, 30), Row(2, null, 20)),
      semiSchema, "semijointbla")
    mk(Seq(Row(1, 1, 1), Row(1, 1, 10), Row(1, 2, 5), Row(1, null, 10),
      Row(2, 10, null), Row(3, null, null), Row(3, null, 50)),
      semiSchema, "semijointblb")

    if (!java.nio.file.Files.isDirectory(refRoot)) return

    val decTiny = refRoot.resolve("data/decimal-tiny.txt")
    if (java.nio.file.Files.isRegularFile(decTiny)) {
      val sch = StructType.fromDDL(
        "c1 decimal(10,4), c2 decimal(15,5), c3 decimal(1,1)")
      mk(loadTextSerde(decTiny, sch), sch, "decimal_tiny")
    }
    val tinyInt = refRoot.resolve("TinyIntTable/data.csv")
    if (java.nio.file.Files.isRegularFile(tinyInt)) {
      val sch = StructType.fromDDL("int_col int")
      mk(loadTextSerde(tinyInt, sch), sch, "tinyinttable")
    }
    val grep = refRoot.resolve("hive_benchmark/grepTiny/part-00000")
    if (java.nio.file.Files.isRegularFile(grep)) {
      val sch = StructType.fromDDL("field string")
      mk(loadTextSerde(grep, sch, delim = "\u0001"), sch, "greptiny")
    }
    val charsPq = refRoot.resolve("data/chars-formats.parquet")
    if (java.nio.file.Files.isRegularFile(charsPq)) {
      import org.apache.spark.sql.functions.{col, rpad, substring}
      val raw = spark.read.parquet(charsPq.toString)
      val Seq(c1, c2, c3) = raw.columns.take(3).toSeq.map(n => col(s"`$n`"))
      raw.select(
          rpad(substring(c1, 1, 5), 5, " ").as("cs"),
          rpad(substring(c2, 1, 140), 140, " ").as("cl"),
          substring(c3, 1, 32).as("vc"))
        .createOrReplaceTempView("chars_formats")
    }
    // testtbl: declared, never loaded (empty.test probes it empty)
    mk(Nil, StructType.fromDDL("id bigint, name string, zip int"), "testtbl")
    // decimal_encodings family (test_scanners.py:827-841,
    // parquet-decimal-formats.test): the reference's binary parquet
    // fixtures exercising every physical decimal encoding — plain and
    // dictionary variable-length BYTE_ARRAY, INT32, INT64, and padded
    // FIXED_LEN_BYTE_ARRAY — read directly through the parquet scan,
    // which is exactly the surface the golden file pins
    val decEnc = Seq("binary_decimal_dictionary.parquet",
      "binary_decimal_no_dictionary.parquet")
      .map(f => refRoot.resolve(s"data/$f"))
    if (decEnc.forall(java.nio.file.Files.isRegularFile(_))) try {
      // positional mapping, as Impala's default parquet schema
      // resolution does (file cols decimalColSmall/Medium/Large →
      // declared small_dec/med_dec/large_dec). Spark's VECTORIZED
      // parquet reader NPEs on these 2016 Avro-written fixtures
      // (plain-dictionary BINARY decimals); the parquet-mr row reader
      // handles them — read the 18 rows non-vectorized once and serve
      // the view from memory
      val vecKey = "spark.sql.parquet.enableVectorizedReader"
      val prevVec = spark.conf.get(vecKey)
      val rows = try {
        spark.conf.set(vecKey, "false")
        spark.read.parquet(decEnc.map(_.toString): _*)
          .toDF("small_dec", "med_dec", "large_dec").collect().toSeq
      } finally spark.conf.set(vecKey, prevVec)
      val decSch = StructType.fromDDL(
        "small_dec decimal(9,2), med_dec decimal(18,2), large_dec decimal(38,2)")
      spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), decSch)
        .createOrReplaceTempView("decimal_encodings")
    } catch { case _: Throwable => }
    Seq("decimal_stored_as_int32", "decimal_stored_as_int64",
      "decimal_padded_fixed_len_byte_array",
      "decimal_padded_fixed_len_byte_array2",
      // parquet-zero-rows.test: footer metadata pins num_rows=0 (the
      // one_row_group file deliberately contradicts its row group —
      // both scans must yield zero rows, trusting the footer)
      "zero_rows_zero_row_groups", "zero_rows_one_row_group",
      // IMPALA-6324 (parquet-rle-encoded-bool.test): RLE-encoded
      // boolean pages; the table schema is the file's own
      // (test_scanners.py:843-847 create_table_from_parquet)
      "rle_encoded_bool",
      // IMPALA-6077 (parquet-def-levels.test): legacy BIT_PACKED
      // def-level encoding — Impala's scanner rejects materialization
      // (the CATCH blocks); parquet-mr still decodes it, and the
      // count(*) block reads only footer metadata either way
      "alltypes_agg_bitpacked_def_levels").foreach { t =>
      val p = refRoot.resolve(s"data/$t.parquet")
      if (java.nio.file.Files.isRegularFile(p)) try {
        val df = spark.read.parquet(p.toString)
        // BIT_PACKED rep/def levels: materializing ANY column raises
        // the scanner's rejection (IMPALA-6077) while count(*) still
        // answers from row-group metadata — the raising projections
        // are pruned away when no column is read
        val reg =
          if (!ParquetFooterCheck.hasBitPackedLevels(p)) df
          else df.select(df.schema.fields.map(f =>
            org.apache.spark.sql.graft.Bridge.column(
              graft.functions.ImpalaRaiseOnRead(
                "deprecated BIT_PACKED encoding for rep or def levels.",
                f.dataType)).as(f.name)).toSeq: _*)
        reg.createOrReplaceTempView(t)
      } catch { case _: Throwable => }
    }
    // primitive_type_widening (IMPALA-6373, test_scanners.py:859-868):
    // the declared schema is one widening step above the file's
    // physical types — the scan must up-convert on read
    val ptw = refRoot.resolve("data/primitive_type_widening.parquet")
    if (java.nio.file.Files.isRegularFile(ptw)) try {
      val sch = StructType.fromDDL(
        "a smallint, b int, c bigint, d double, e int, f bigint, " +
          "g double, h int, i double, j double")
      val raw = spark.read.parquet(ptw.toString)
      raw.select(raw.columns.zip(sch.fields).map { case (n, f) =>
        org.apache.spark.sql.functions.col(s"`$n`")
          .cast(f.dataType).as(f.name)
      }.toSeq: _*).createOrReplaceTempView("primitive_type_widening")
    } catch { case _: Throwable => }
    // manynulls: the functional template's derived load
    // (functional_schema_template.sql:2744-2748 — id with nullcol
    // nulled out in alternating 500-row runs of alltypesagg), the
    // scanners-many-nulls clustered-null fixture
    spark.sql(
      """SELECT id, IF((id DIV 500) % 2 = 0, NULL, id) AS nullcol
        |FROM alltypesagg""".stripMargin)
      .createOrReplaceTempView("manynulls")
    // widerow: one row whose string_col is 10 MiB
    // (functional_schema_template.sql:1234-1242; widerow.txt is a
    // load-time generated artifact absent under testdata/data, so the
    // row is synthesized at the documented length — wide-row.test
    // asserts only length(string_col) = 10485760)
    mk(Seq(Row("w" * (10 * 1024 * 1024))),
      StructType.fromDDL("string_col string"), "widerow")
    // delimited-text.test fixtures: custom field terminator / escape /
    // line terminator combinations (functional_schema_template.sql:
    // 1167-1190 ',','\\','\n' and '$','#','|')
    val delimSch =
      StructType.fromDDL("col1 string, col2 string, col3 int, col4 int")
    val cbn = refRoot.resolve("data/text-comma-backslash-newline.txt")
    if (java.nio.file.Files.isRegularFile(cbn))
      mk(loadCustomDelimited(cbn, delimSch, ',', '\\', '\n'), delimSch,
        "text_comma_backslash_newline")
    val dhp = refRoot.resolve("data/text-dollar-hash-pipe.txt")
    if (java.nio.file.Files.isRegularFile(dhp))
      mk(loadCustomDelimited(dhp, delimSch, '$', '#', '|'), delimSch,
        "text_dollar_hash_pipe")
    // extended-ASCII delimiters: thorn (0xFE) fields, e-circumflex
    // (0xEA) escape (delimited-latin-text.test; schema template :1195)
    val ten = refRoot.resolve("data/text-thorn-ecirc-newline.txt")
    if (java.nio.file.Files.isRegularFile(ten))
      mk(loadCustomDelimited(ten, delimSch, 'þ', 'ê', '\n'),
        delimSch, "text_thorn_ecirc_newline")
    // overflow: boundary-value text fixture (overflow.txt)
    val ovf = refRoot.resolve("data/overflow.txt")
    if (java.nio.file.Files.isRegularFile(ovf)) {
      val sch = StructType.fromDDL(
        "tinyint_col tinyint, smallint_col smallint, int_col int, " +
          "bigint_col bigint, float_col float, double_col double, " +
          "decimal0_col decimal(13,4), decimal1_col decimal(38,0), " +
          "decimal2_col decimal(38,38)")
      mk(loadTextSerde(ovf, sch, escaped = true), sch, "overflow")
    }
    // tblwithraggedcolumns: short rows null-fill, extra fields drop
    val ragged = refRoot.resolve("TblWithRaggedColumns/data.csv")
    if (java.nio.file.Files.isRegularFile(ragged)) {
      val sch = StructType.fromDDL("str_col string, int_col int")
      mk(loadTextSerde(ragged, sch, escaped = true), sch,
        "tblwithraggedcolumns")
    }
    // strings_with_quotes: escaped-serde quote fixture (IMPALA-7586
    // string-escaping.test)
    val swq = refRoot.resolve("data/strings_with_quotes.csv")
    if (java.nio.file.Files.isRegularFile(swq)) {
      val sch = StructType.fromDDL("s string, i int")
      mk(loadTextSerde(swq, sch, escaped = true), sch, "strings_with_quotes")
    }
    // chars_tiny / chars_medium: REAL catalog tables with CHAR/VARCHAR
    // columns — Spark's read-side padding and literal-padding
    // comparison rules then reproduce Impala's CHAR semantics
    // (chars.test); writes pre-truncate to the declared length because
    // Spark raises EXCEED_LIMIT_LENGTH where Impala truncates.
    val charsTiny = refRoot.resolve("data/chars-tiny.txt")
    if (java.nio.file.Files.isRegularFile(charsTiny)) try {
      val raw = StructType.fromDDL("cs string, cl string, vc string")
      mk(loadTextSerde(charsTiny, raw), raw, "chars_tiny_raw")
      spark.sql("DROP TABLE IF EXISTS chars_tiny")
      spark.sql(
        "CREATE TABLE chars_tiny (cs CHAR(5), cl CHAR(140), vc VARCHAR(32)) USING PARQUET")
      spark.sql(
        """INSERT INTO chars_tiny
          |SELECT substring(cs, 1, 5), substring(cl, 1, 140),
          |       substring(vc, 1, 32) FROM chars_tiny_raw""".stripMargin)
      spark.sql("DROP TABLE IF EXISTS chars_medium")
      spark.sql(
        """CREATE TABLE chars_medium (id int, date_char_col char(8),
          |  char_col char(3), date_varchar_col varchar(8),
          |  varchar_col varchar(3)) USING PARQUET""".stripMargin)
      // LOAD derivation from the schema template (alltypesagg source)
      spark.sql(
        """INSERT INTO chars_medium
          |SELECT id, substring(date_string_col, 1, 8),
          |  CASE WHEN id % 3 IN (0, 1) THEN substring(string_col, 1, 3) END,
          |  substring(date_string_col, 1, 8),
          |  CASE WHEN id % 3 = 0 THEN substring(string_col, 1, 3) END
          |FROM alltypesagg""".stripMargin)
    } catch { case _: Throwable => } // no writable warehouse: skip
    // INSERT-target tables (insert.test): real catalog tables the
    // golden file truncates/overwrites/appends; the file's own SELECT
    // blocks then verify contents against golden rows — a DML gate
    // (schema template CREATE ... LIKE alltypes / alltypesnopart)
    try {
      val cols =
        """id int, bool_col boolean, tinyint_col tinyint,
          |smallint_col smallint, int_col int, bigint_col bigint,
          |float_col float, double_col double, date_string_col string,
          |string_col string, timestamp_col timestamp""".stripMargin
      spark.sql("DROP TABLE IF EXISTS alltypesinsert")
      spark.sql(s"""CREATE TABLE alltypesinsert ($cols, year int, month int)
        |USING PARQUET PARTITIONED BY (year, month)""".stripMargin)
      spark.sql("DROP TABLE IF EXISTS alltypesnopart_insert")
      spark.sql(s"CREATE TABLE alltypesnopart_insert ($cols) USING PARQUET")
      spark.sql("DROP TABLE IF EXISTS insert_string_partitioned")
      spark.sql(
        """CREATE TABLE insert_string_partitioned (s1 string, s2 string)
          |USING PARQUET PARTITIONED BY (s2)""".stripMargin)
      spark.sql("DROP TABLE IF EXISTS table_with_header_insert")
      spark.sql("CREATE TABLE table_with_header_insert (i1 int) USING PARQUET")
      spark.sql("DROP TABLE IF EXISTS insert_overwrite_nopart")
      spark.sql(
        "CREATE TABLE insert_overwrite_nopart (col1 int) USING PARQUET")
      spark.sql("DROP TABLE IF EXISTS insert_overwrite_partitioned")
      spark.sql(
        """CREATE TABLE insert_overwrite_partitioned (col1 int, col2 int)
          |USING PARQUET PARTITIONED BY (col2)""".stripMargin)
      // insert_null.test's shared-location pair: nullinsert is a real
      // table; nullinsert_alt re-reads the same rows as the
      // ','-delimited escaped-serde TEXT LINES Impala's sink writes
      // ('\N' nulls, backslashes doubled) — the serialization the
      // test pins
      spark.sql("DROP TABLE IF EXISTS nullinsert")
      spark.sql(
        """CREATE TABLE nullinsert (str_col1 string, str_col2 string,
          |str_col3 string, str_col4 string, int_cal int)
          |USING PARQUET""".stripMargin)
      def serTxt(c: String) =
        s"""CASE WHEN $c IS NULL THEN '\\\\N'
           |ELSE replace($c, '\\\\', '\\\\\\\\') END""".stripMargin
      spark.sql(
        s"""SELECT concat_ws(',', ${serTxt("str_col1")},
           |  ${serTxt("str_col2")}, ${serTxt("str_col3")},
           |  ${serTxt("str_col4")},
           |  CASE WHEN int_cal IS NULL THEN '\\\\N'
           |       ELSE cast(int_cal AS string) END) AS whole_row
           |FROM nullinsert""".stripMargin)
        .createOrReplaceTempView("nullinsert_alt")
      // nullformat_custom (serialization.null.format='xyz'): writes
      // land in the __store table (the spec redirects the INSERTs);
      // reads apply the serde rule — a stored 'xyz' string IS the
      // null marker
      spark.sql("DROP TABLE IF EXISTS nullformat_custom__store")
      spark.sql(
        """CREATE TABLE nullformat_custom__store (id int, a boolean,
          |b string, c int, d double) USING PARQUET""".stripMargin)
      spark.sql(
        """SELECT id, a,
          |  CASE WHEN b = 'xyz' THEN NULL ELSE b END AS b, c, d
          |FROM nullformat_custom__store""".stripMargin)
        .createOrReplaceTempView("nullformat_custom")
    } catch { case _: Throwable => } // no writable warehouse: skip
    // serialized-sketch fixtures (datasketches-hll/kll.test): sketch
    // bytes produced by Hive (datasketches-java) and the reference
    // (datasketches-cpp) — reading them exercises the cross-engine wire
    // format end to end
    Seq("hll_sketches_from_hive", "hll_sketches_from_impala",
        "kll_sketches_from_hive", "kll_sketches_from_impala").foreach { t =>
      val pq = refRoot.resolve(s"data/$t.parquet")
      if (java.nio.file.Files.isRegularFile(pq))
        spark.read.parquet(pq.toString).createOrReplaceTempView(t)
    }
    // nullescapedtable: the escaped-serde INSERT...SELECT roundtrip of
    // nulltable is content-identical (null_data.test pins both)
    if (spark.catalog.tableExists("nulltable"))
      spark.table("nulltable").createOrReplaceTempView("nullescapedtable")
    // views + derived tables from the schema template
    spark.table("alltypes").createOrReplaceTempView("alltypes_view")
    spark.sql(
      """SELECT COUNT(a.bigint_col) AS abc, b.string_col AS xyz
        |FROM alltypesagg a INNER JOIN alltypestiny b ON a.id = b.id
        |WHERE a.bigint_col < 50
        |GROUP BY b.string_col HAVING COUNT(a.bigint_col) > 1
        |ORDER BY b.string_col LIMIT 100""".stripMargin)
      .createOrReplaceTempView("complex_view")
    spark.sql(
      """SELECT id, bool_col, tinyint_col, smallint_col, int_col,
        |  bigint_col, float_col, double_col, string_col, timestamp_col,
        |  CASE WHEN id % 2 = 0 THEN CAST(timestamp_col AS DATE)
        |    ELSE date_add(CAST(timestamp_col AS DATE), 5) END AS date_col
        |FROM alltypes WHERE id < 500""".stripMargin)
      .createOrReplaceTempView("alltypes_date_partition")
    // decimal_rtf_tbl / decimal_rtf_tiny_tbl (functional_schema_template
    // .sql:1936/2015): comma-delimited decimal matrices loaded into the
    // dpc=1 partition — the build/probe pair behind the runtime
    // min-max-filter workloads (decimal_min_max_filters.test et al.)
    val rtfSch = StructType.fromDDL(
      "d5_0 decimal(5,0), d5_1 decimal(5,1), d5_3 decimal(5,3), " +
        "d5_5 decimal(5,5), d9_0 decimal(9,0), d9_1 decimal(9,1), " +
        "d9_5 decimal(9,5), d9_9 decimal(9,9), d14_0 decimal(14,0), " +
        "d14_1 decimal(14,1), d14_7 decimal(14,7), d14_14 decimal(14,14), " +
        "d18_0 decimal(18,0), d18_1 decimal(18,1), d18_9 decimal(18,9), " +
        "d18_18 decimal(18,18), d28_0 decimal(28,0), d28_1 decimal(28,1), " +
        "d28_14 decimal(28,14), d28_28 decimal(28,28), d38_0 decimal(38,0), " +
        "d38_1 decimal(38,1), d38_19 decimal(38,19), d38_38 decimal(38,38), " +
        "dpc decimal(9,0)")
    Seq("decimal_rtf_tbl", "decimal_rtf_tiny_tbl").foreach { t =>
      val p = refRoot.resolve(s"data/$t.txt")
      if (java.nio.file.Files.isRegularFile(p))
        mk(loadTextSerde(p, rtfSch, extra = Seq(java.math.BigDecimal.ONE)),
          rtfSch, t)
    }
    // overflow_strict: the same overflow.txt rows converted under
    // Impala's --strict_mode text scanning (be/src/util/string-parser.h
    // PARSE_OVERFLOW → NULL + per-column error) — strict-mode.test's
    // RESULTS pin NULLs where the default load saturates; the spec
    // shadows `overflow` with this view for that file only
    if (java.nio.file.Files.isRegularFile(ovf)) {
      val sch = StructType.fromDDL(
        "tinyint_col tinyint, smallint_col smallint, int_col int, " +
          "bigint_col bigint, float_col float, double_col double, " +
          "decimal0_col decimal(13,4), decimal1_col decimal(38,0), " +
          "decimal2_col decimal(38,38)")
      def strictConv(raw: String, t: DataType): Any = try t match {
        case ByteType | ShortType | IntegerType | LongType =>
          val bi = BigInt(raw.trim)
          t match {
            case ByteType =>
              if (!bi.isValidByte) null else bi.toByte
            case ShortType =>
              if (!bi.isValidShort) null else bi.toShort
            case IntegerType =>
              if (!bi.isValidInt) null else bi.toInt
            case _ =>
              if (!bi.isValidLong) null else bi.toLong
          }
        case FloatType =>
          val v = raw.trim.toFloat; if (v.isInfinite) null else v
        case DoubleType =>
          val v = raw.trim.toDouble; if (v.isInfinite) null else v
        case d: DecimalType =>
          // setScale WITHOUT a rounding mode: a value needing rounding
          // (underflow like 9e-39 into scale 38) errors → NULL
          val bd = new java.math.BigDecimal(raw.trim).setScale(d.scale)
          if (bd.precision > d.precision) null else bd
        case _ => raw
      } catch { case _: Exception => null }
      val strictRows = new String(java.nio.file.Files.readAllBytes(ovf),
          java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map { line =>
          Row.fromSeq(line.split(",", -1).toSeq.zip(sch.fields)
            .map { case (f, fl) => strictConv(f, fl.dataType) })
        }
      mk(strictRows, sch, "overflow_strict")
    }
    // imp_901: the hash-collision regression target
    // (aggregation_no_codegen_only.test) — a real catalog table so the
    // block's own INSERT lands before its GROUP BY probe
    try {
      spark.sql("DROP TABLE IF EXISTS imp_901")
      spark.sql("CREATE TABLE imp_901 (col tinyint) USING PARQUET")
    } catch { case _: Throwable => } // no writable warehouse: skip
    registerInt64TimestampTables(spark, refRoot)
    registerScanFixtureTables(spark, refRoot)
  }

  /** Round-9e scanner/page-index fixture tables: the reference's
    * binary parquet fixtures and tiny text loads behind parquet.test,
    * parquet-page-index*.test, parquet-deprecated-stats.test,
    * hdfs-tiny-scan.test, hdfs-partitions.test and hdfs-scan-node.test
    * (`tests/query_test/test_scanners.py`, `test_parquet_page_index
    * .py`). Page/block LAYOUT is Impala-runtime mechanics (the
    * RUNTIME_PROFILE page-filtering counters are extra sections the
    * golden loader ignores); the RESULTS rows are data-level and
    * engine-invariant, which is exactly what these views pin.
    */
  private def registerScanFixtureTables(spark: SparkSession,
      refRoot: java.nio.file.Path): Unit = {
    def mk(rows: Seq[Row], sch: StructType, name: String): Unit =
      spark.createDataFrame(new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
        .createOrReplaceTempView(name)
    // tinytable (TinyTable/data.csv, schema template:1403)
    val tt = refRoot.resolve("TinyTable/data.csv")
    if (java.nio.file.Files.isRegularFile(tt)) {
      val sch = StructType.fromDDL("a string, b string")
      mk(loadTextSerde(tt, sch), sch, "tinytable")
    }
    // straight parquet-fixture views (data files carry the schema)
    Seq(
      // parquet-deprecated-stats.test: pre-PARQUET-251 'statistics'
      // footer field — stats-era semantics are scan-internal, the rows
      // are plain alltypes-shaped data
      "deprecated_stats" -> "data/deprecated_statistics.parquet",
      // parquet-page-index.test: two-column decimal matrix with small
      // data pages
      "decimals_1_10" -> "data/decimals_1_10.parquet",
      // deliberately invalid page-index entries — re-registered with
      // per-column sentinels below (ABORT_ON_ERROR decides raise vs
      // the clean index-ignoring read)
      "alltypes_invalid_pages" -> "data/alltypes_invalid_pages.parquet",
      // IMPALA-694 required-field parquet written by Kite
      "kite_required_fields" -> "data/kite_required_fields.parquet",
      // the whole alltypes table re-written in ~25-row pages
      "alltypes_tiny_pages" -> "data/alltypes_tiny_pages.parquet",
      "alltypes_tiny_pages_plain" -> "data/alltypes_tiny_pages_plain.parquet",
      // TPC-DS customer slice spanning multiple blocks in one file
      "customer_multiblock_page_index" ->
        "data/customer_multiblock_page_index.parquet",
      // nested-types-parquet-page-index.test decimal collections
      "nested_decimals" -> "data/nested_decimals.parquet",
      "double_nested_decimals" -> "data/double_nested_decimals.parquet",
      // IMPALA-720 multi-row-group lineitem slice (20,000 rows)
      "lineitem_multiblock" -> "LineItemMultiBlock/000000_0",
      // lineitem_sixblocks' DATA equals the one_row_group fixture
      // (40,000 rows — parquet.test pins count/min/max/distinct over
      // it; the six-block LAYOUT is the Impala scan-range mechanic,
      // not a property of the rows)
      "lineitem_sixblocks" ->
        "LineItemMultiBlock/lineitem_one_row_group.parquet"
    ).foreach { case (name, rel) =>
      val p = refRoot.resolve(rel)
      if (java.nio.file.Files.isRegularFile(p)) try {
        val raw = spark.read.parquet(p.toString)
        val df = raw.toDF(raw.columns.map(_.toLowerCase).toIndexedSeq: _*)
        // several fixtures carry BYTE_ARRAY columns without the UTF8
        // annotation (pre-standard writers) — declared STRING in the
        // schema template, so read them as text like Impala does
        val cast = df.select(df.schema.fields.map { f =>
          if (f.dataType == BinaryType)
            org.apache.spark.sql.functions.col(f.name).cast(StringType)
              .as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }.toSeq: _*)
        cast.createOrReplaceTempView(name)
      } catch { case _: Throwable => }
    }
    // alltypes_invalid_pages: re-register with a sentinel on every
    // column whose OFFSET INDEX fails validation — the dialect's
    // per-statement pass resolves each against ABORT_ON_ERROR
    // (raise vs index-ignoring clean read); untouched columns stay raw
    locally {
      val p = refRoot.resolve("data/alltypes_invalid_pages.parquet")
      if (java.nio.file.Files.isRegularFile(p)) try {
        val badCols = ParquetFooterCheck.invalidOffsetIndexColumns(p)
        if (badCols.nonEmpty)
          scala.util.Try(spark.table("alltypes_invalid_pages")).foreach {
            df =>
              df.select(df.schema.fields.map { f =>
                if (badCols(f.name))
                  org.apache.spark.sql.graft.Bridge.column(
                    graft.functions.ImpalaPageIndexSentinel(
                      org.apache.spark.sql.graft.Bridge.expression(
                        org.apache.spark.sql.functions.col(f.name))))
                    .as(f.name)
                else org.apache.spark.sql.functions.col(f.name)
              }.toSeq: _*).createOrReplaceTempView("alltypes_invalid_pages")
          }
      } catch { case _: Throwable => }
    }
    // alltypes_empty_pages: parquet-mr (both Spark readers) rejects the
    // fixture's zero-value data pages outright, and the pyarrow-side
    // readers confirm its DATA is exactly the first 500 generator rows
    // (ids 0..499 verbatim, values checked against the golden RESULTS)
    // — serve the derivation; the empty-page LAYOUT is the
    // Impala-scanner mechanic the RUNTIME_PROFILE sections cover
    scala.util.Try(spark.table("alltypes")).foreach { at =>
      at.where("id < 500").createOrReplaceTempView("alltypes_empty_pages")
    }
    // bad_parquet (IMPALA-694/720, schema template:1719): parquet-mr
    // 1.2.5 file whose footer undercounts the pages Impala recovers;
    // Spark/parquet-mr trust the footer — the row-count difference is
    // a documented delta in FunctionalGoldenSpec. Declared column name
    // is `field`; the file says `x` (Impala resolves by position).
    val badPq = refRoot.resolve("data/bad_parquet_data.parquet")
    if (java.nio.file.Files.isRegularFile(badPq)) try {
      spark.read.parquet(badPq.toString).toDF("field")
        .selectExpr("cast(field as string) as field")
        .createOrReplaceTempView("bad_parquet")
    } catch { case _: Throwable => }
    // corrupt-footer fixtures (parquet.test CATCH contract): a file
    // ParquetFooterCheck rejects registers as a view that raises the
    // scanner's message on execution — the fail-fast path a real scan
    // would take; a passing footer reads normally
    Seq(
      ("bad_metadata_len", "bad_metadata_len.parquet"),
      ("bad_dict_page_offset", "bad_dict_page_offset.parquet"),
      ("bad_compressed_size", "bad_compressed_size.parquet"),
      ("bad_magic_number", "bad_magic_number.parquet"))
      .foreach { case (tbl, file) =>
        val p = refRoot.resolve(s"data/$file")
        if (java.nio.file.Files.isRegularFile(p)) try {
          ParquetFooterCheck.validate(p,
            s"$$NAMENODE/test-warehouse/${tbl}_parquet/$file") match {
            case Some(err) =>
              // Raise from a FILTER, not just a projection: a
              // column-free scan (count(*), select 1) prunes raising
              // projections away, but Impala fails at footer read for
              // ANY query shape — the filter predicate always runs.
              spark.range(1)
                .filter(org.apache.spark.sql.graft.Bridge.column(
                  graft.functions.ImpalaRaiseOnRead(err,
                    org.apache.spark.sql.types.BooleanType)))
                .select(
                  org.apache.spark.sql.graft.Bridge.column(
                    graft.functions.ImpalaRaiseOnRead(err,
                      org.apache.spark.sql.types.StringType)).as("c"))
                .createOrReplaceTempView(tbl)
            case None =>
              spark.read.parquet(p.toString).createOrReplaceTempView(tbl)
          }
        } catch { case _: Throwable => }
      }
    // alltypesaggmultifiles(nopart): the multi-file/4-way-split LOAD of
    // alltypesagg (schema template:1310-1377) — same rows, physical
    // layout only; nopart drops the partition columns from the schema
    scala.util.Try(spark.table("alltypesagg")).foreach { agg =>
      agg.createOrReplaceTempView("alltypesaggmultifiles")
      agg.drop("year", "month", "day")
        .createOrReplaceTempView("alltypesaggmultifilesnopart")
    }
    // complextypes_partitioned (IMPALA-6370, test_nested_types.py:177):
    // two partitions both pointing at the complextypestbl data
    scala.util.Try(spark.table("complextypestbl")).foreach { ct =>
      import org.apache.spark.sql.functions.lit
      ct.withColumn("part", lit(1))
        .unionByName(ct.withColumn("part", lit(2)))
        .createOrReplaceTempView("complextypes_partitioned")
    }
    registerTimestampEdgeTables(spark, refRoot)
  }

  /** Round-9f edge fixtures: scanner range/calendar conversion tables
    * (out-of-range timestamps/dates, pre-Gregorian Hive-2 files,
    * dateless timestamps), the bzip2 text fixtures, and the
    * missing-newline text loads. Impala's scanner converts values
    * outside TIMESTAMP 1400-01-01..9999-12-31 / DATE
    * 0001-01-01..9999-12-31 to NULL with a per-row error
    * (be/src/exec/parquet/parquet-column-readers.cc,
    * runtime/date-value.h) — replicated as range CASEs over the same
    * binary fixtures.
    */
  private def registerTimestampEdgeTables(spark: SparkSession,
      refRoot: java.nio.file.Path): Unit = {
    def mk(rows: Seq[Row], sch: StructType, name: String): Unit =
      spark.createDataFrame(new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), sch)
        .createOrReplaceTempView(name)
    def exists(rel: String) =
      java.nio.file.Files.isRegularFile(refRoot.resolve(rel))
    // out_of_range_timestamp (IMPALA-4363): int96 values outside the
    // representable range → NULL
    if (exists("data/out_of_range_timestamp.parquet")) try {
      spark.read.parquet(
          refRoot.resolve("data/out_of_range_timestamp.parquet").toString)
        .selectExpr("""CASE WHEN ts < TIMESTAMP'1400-01-01 00:00:00'
            OR ts > TIMESTAMP'9999-12-31 23:59:59.999999'
            THEN NULL ELSE ts END AS ts""")
        .createOrReplaceTempView("out_of_range_timestamp")
    } catch { case _: Throwable => }
    // the hive-2.1.1-written legacy int96 twins (IMPALA-7559): rows the
    // writer stored OUT of Impala's [1400, 9999] range wrapped through
    // int96 overflow and land below 1400 under the reader's julian
    // arithmetic — the same valid-range NULL rule as
    // out_of_range_timestamp applies (Impala NULLs with a scan error)
    Seq("out_of_range_timestamp_hive_211",
        "out_of_range_timestamp2_hive_211").foreach { n =>
      if (exists(s"data/$n.parquet")) try {
        val df = spark.read.parquet(refRoot.resolve(s"data/$n.parquet").toString)
        // the sentinel NULLs out-of-range values itself (the
        // abort_on_error=0 recovery read); under ABORT_ON_ERROR=1 the
        // dialect resolves it into the scanner's raised error
        val lo = java.time.Instant.parse("1400-01-01T00:00:00Z")
        val hi = java.time.Instant.parse("9999-12-31T23:59:59.999999Z")
        def micros(i: java.time.Instant): Long =
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        val msg = s"Parquet file '$$NAMENODE/test-warehouse/" +
          s"$$DATABASE.db/$n/$n.parquet' column 'timestamp_col' " +
          "contains an out of range timestamp. The valid date range " +
          "is 1400-01-01..9999-12-31."
        df.select(df.schema.fields.map { f =>
          if (f.name == "timestamp_col")
            org.apache.spark.sql.graft.Bridge.column(
              graft.functions.ImpalaScanRangeSentinel(
                org.apache.spark.sql.graft.Bridge.expression(
                  org.apache.spark.sql.functions.col(f.name)),
                msg, micros(lo), micros(hi))).as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }.toSeq: _*).createOrReplaceTempView(n)
      } catch { case _: Throwable => }
    }
    if (exists("data/out_of_range_time_of_day.parquet")) try {
      spark.read.parquet(
          refRoot.resolve("data/out_of_range_time_of_day.parquet").toString)
        .createOrReplaceTempView("out_of_range_time_of_day")
    } catch { case _: Throwable => }
    // out_of_range_date: the raw int32 epoch-days include year-0 and
    // year-10000 values that parquet-mr's hybrid date path mangles —
    // read the physical INT32 and apply Impala's range rule directly
    // (valid epoch-day range -719162 = 0001-01-01 .. 2932896 =
    // 9999-12-31)
    if (exists("data/out_of_range_date.parquet")) try {
      val raw = spark.read.schema(StructType.fromDDL("v int"))
        .parquet(refRoot.resolve("data/out_of_range_date.parquet").toString)
      raw.select(org.apache.spark.sql.graft.Bridge.column(
          graft.functions.ImpalaDateRangeSentinel(
            org.apache.spark.sql.graft.Bridge.expression(
              org.apache.spark.sql.functions.col("v")),
            "Parquet file '$NAMENODE/test-warehouse/$DATABASE.db/" +
              "out_of_range_date/out_of_range_date.parquet' column 'v' " +
              "contains an out of range date. The valid date range is " +
              "0001-01-01..9999-12-31.")).as("v"))
        .createOrReplaceTempView("out_of_range_date")
    } catch { case _: Throwable => }
    if (exists("data/hive2_pre_gregorian.parquet")) try {
      spark.read.parquet(
          refRoot.resolve("data/hive2_pre_gregorian.parquet").toString)
        .createOrReplaceTempView("hive2_pre_gregorian")
    } catch { case _: Throwable => }
    // ORC twins of the two calendar/range scanner fixtures
    // (out-of-range-date-orc.test, hive2-pre-gregorian-date-orc.test).
    // Impala's ORC scanner interprets the stored epoch-day int
    // PROLEPTICALLY with no hybrid-calendar conversion and NULLs values
    // outside 0001-01-01..9999-12-31 (be/src/exec/orc/
    // hdfs-orc-scanner.cc date range check; IMPALA-9511/9515); Spark's
    // ORC reader rebases instead, so the fixture registers from the
    // raw DateColumnVector days (a driver-side read of a 4/5-row file)
    def orcRawDateView(rel: String, name: String): Unit =
      if (exists(rel)) try {
        val conf = new org.apache.hadoop.conf.Configuration()
        val r = org.apache.orc.OrcFile.createReader(
          new org.apache.hadoop.fs.Path(refRoot.resolve(rel).toString),
          org.apache.orc.OrcFile.readerOptions(conf))
        val days = scala.collection.mutable.ArrayBuffer.empty[Long]
        val rows = r.rows()
        try {
          val batch = r.getSchema.createRowBatch()
          while (rows.nextBatch(batch)) {
            val col = batch.cols(0).asInstanceOf[
              org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
            (0 until batch.size).foreach { i =>
              val j = if (col.isRepeating) 0 else i
              days += (if (col.noNulls || !col.isNull(j)) col.vector(j)
                else Long.MinValue)
            }
          }
        } finally rows.close()
        // the RAW epoch-day ints feed a range sentinel: out-of-range
        // days null on the recovery read and raise under
        // ABORT_ON_ERROR=1 (the dialect resolves); LocalDate semantics
        // (no hybrid-calendar rebase) are preserved — DateType's
        // internal rep IS the proleptic epoch day
        val out = days.toSeq.map { d =>
          org.apache.spark.sql.Row(
            if (d == Long.MinValue) null
            else java.lang.Integer.valueOf(d.toInt))
        }
        val msg = s"ORC file '$$NAMENODE/test-warehouse/$$DATABASE.db/" +
          s"$name/${rel.split('/').last}' column '1' contains an out " +
          "of range date. The valid date range is 0001-01-01..9999-12-31."
        spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
            StructType.fromDDL("d0 int"))
          .select(org.apache.spark.sql.graft.Bridge.column(
            graft.functions.ImpalaDateRangeSentinel(
              org.apache.spark.sql.graft.Bridge.expression(
                org.apache.spark.sql.functions.col("d0")), msg)).as("d"))
          .createOrReplaceTempView(name)
      } catch { case _: Throwable => }
    orcRawDateView("data/out_of_range_date.orc", "out_of_range_date_orc")
    orcRawDateView("data/hive2_pre_gregorian.orc", "hive2_pre_gregorian_orc")
    // dateless timestamps: the fixture stores time-only values with
    // int96 julian day 0 (wall date 4714 BC), far below Impala's
    // 1400-01-01 floor — the same scanner range rule nulls them
    // (IMPALA-7088 removed dateless parsing)
    if (exists("data/dateless_timestamps.parq")) try {
      spark.read.parquet(
          refRoot.resolve("data/dateless_timestamps.parq").toString)
        .selectExpr("""CASE WHEN t < TIMESTAMP'1400-01-01 00:00:00'
            OR t > TIMESTAMP'9999-12-31 23:59:59.999999'
            THEN NULL ELSE t END AS t""")
        .createOrReplaceTempView("timestamp_table")
      FunctionalTables.abortOnErrorTables("timestamp_table") =
        "timestamp_table/dateless_timestamps.parq' column 't' contains " +
          "an out of range timestamp. The valid date range is " +
          "1400-01-01..9999-12-31."
    } catch { case _: Throwable => }
    if (exists("data/dateless_timestamps.txt")) {
      val sch = StructType.fromDDL("t timestamp")
      mk(loadTextSerde(refRoot.resolve("data/dateless_timestamps.txt"), sch),
        sch, "timestamp_text_table")
      FunctionalTables.abortOnErrorTables("timestamp_text_table") =
        "Error converting column: 0 to TIMESTAMP"
    }
    // bzip2 text fixtures (text-bzip-scan.test): 1M-row number files;
    // Spark's text source decompresses bz2 (multi-stream included)
    // natively
    Seq("bzip2_tbl" -> "data/data-bzip2.bz2",
        "multistream_bzip2_tbl" -> "data/data-pbzip2.bz2").foreach {
      case (name, rel) =>
        if (exists(rel)) try {
          spark.read.text(refRoot.resolve(rel).toString).toDF("col")
            .createOrReplaceTempView(name)
        } catch { case _: Throwable => }
    }
    // unsupported_types (schema template:1583-1599): scalar columns of
    // types pre-3.0 Impala could not read (DECIMAL-default/DATE/BINARY)
    // mixed with readable ones — misc.test[8] reads only the readable
    // three; all six read fine here
    val unsup = refRoot.resolve("UnsupportedTypes/data.csv")
    if (java.nio.file.Files.isRegularFile(unsup)) {
      // bare DECIMAL in the CREATE_HIVE template is Hive's default
      // DECIMAL(10,0) (the table is Hive-created; misc.test[12]'s
      // describe pins decimal(10,0))
      val sch = StructType.fromDDL(
        "int_col int, dec_col decimal(10,0), date_col date, " +
          "str_col string, bin_col binary, bigint_col bigint")
      val raw = StructType.fromDDL(
        "int_col int, dec_col decimal(9,0), date_col date, " +
          "str_col string, bin_str string, bigint_col bigint")
      val rows = loadTextSerde(unsup, raw).map { r =>
        Row.fromSeq(r.toSeq.updated(4, Option(r.getString(4))
          .map(_.getBytes("UTF-8")).orNull))
      }
      mk(rows, sch, "unsupported_types")
    }
    // allcomplextypes (schema template:717-738): declared with every
    // collection/struct combination, NEVER LOADED — the reference's
    // analysis-surface probe; the IMPALA-2414 with-clause blocks pin
    // empty results over it
    spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL(
          "id int, int_array_col array<int>, " +
            "array_array_col array<array<int>>, " +
            "map_array_col array<map<string,int>>, " +
            "struct_array_col array<struct<f1: bigint, f2: string>>, " +
            "int_map_col map<string, int>, " +
            "array_map_col map<string, array<int>>, " +
            "map_map_col map<string, map<string, int>>, " +
            "struct_map_col map<string, struct<f1: bigint, f2: string>>, " +
            "int_struct_col struct<f1: int, f2: int>, " +
            "complex_struct_col struct<f1: int, f2: array<int>, " +
            "f3: map<string, int>>, " +
            "nested_struct_col struct<f1: int, f2: struct<f11: bigint, " +
            "f12: struct<f21: bigint>>>, " +
            "complex_nested_struct_col struct<f1: int, " +
            "f2: array<struct<f11: bigint, " +
            "f12: map<string, struct<f21: bigint>>>>>, " +
            "year int, month int"))
      .createOrReplaceTempView("allcomplextypes")
    // alltypeserror(nonulls) (schema template:287-340,437; testdata/
    // AllTypesError*): error-tolerant text scans — the reference's
    // scanner NULLs unparseable cells and logs per-row errors
    // (text-converter.inline.h parse failures); file 09MM.txt loads as
    // partition (year=2009, month=MM)
    Seq(("alltypeserror", "AllTypesError"),
        ("alltypeserrornonulls", "AllTypesErrorNoNulls")).foreach {
      case (name, dirName) =>
        val d = refRoot.resolve(dirName)
        if (java.nio.file.Files.isDirectory(d)) {
          val listing = java.nio.file.Files.list(d)
          val files =
            try scala.jdk.CollectionConverters
              .IteratorHasAsScala(listing.iterator()).asScala.toSeq
              .filter(_.getFileName.toString.endsWith(".txt"))
              .sortBy(_.getFileName.toString)
            finally listing.close()
          // every column is nullable here — that is the point of the
          // error tables
          val errSchema = StructType(schema.fields.map(_.copy(nullable = true)))
          val rows = files.flatMap { p =>
            val base = p.getFileName.toString.stripSuffix(".txt")
            val year = 2000 + base.take(2).toInt
            val month = base.drop(2).toInt
            loadTextSerde(p, errSchema, extra = Seq(year, month),
              escaped = true)
          }
          mk(rows, errSchema, name)
        }
    }
    // unsupported_types (schema template:1580-1603;
    // UnsupportedTypes/data.csv): the BINARY column is an unsupported
    // type — ANY select-list reference raises IMPALA-3812's analysis
    // message while the supported columns read normally; DESCRIBE
    // still shows the column as 'binary'
    locally {
      val p = refRoot.resolve("UnsupportedTypes/data.csv")
      if (java.nio.file.Files.isRegularFile(p)) {
        val sch = StructType.fromDDL(
          "int_col int, dec_col decimal(10,0), date_col date, " +
            "str_col string, bin_col string, bigint_col bigint")
        val local = spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(loadTextSerde(p, sch)).asJava), sch)
        // back the view with a real scan — ConvertToLocalRelation
        // would eagerly evaluate a poisoned projection over a
        // LocalRelation, firing the raise for queries that never
        // touch bin_col
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-unsupported-types")
        tmp.toFile.deleteOnExit()
        local.write.mode("overwrite").parquet(tmp.toString)
        val df = spark.read.parquet(tmp.toString)
        df.select(df.schema.fields.map { f =>
          if (f.name == "bin_col")
            org.apache.spark.sql.graft.Bridge.column(
              graft.functions.ImpalaRaiseOnRead(
                "Unsupported type 'BINARY' in " +
                  "'functional.unsupported_types.bin_col'.",
                org.apache.spark.sql.types.BinaryType,
                det = false)).as("bin_col")
          else org.apache.spark.sql.functions.col(f.name)
        }.toSeq: _*).createOrReplaceTempView("unsupported_types")
      }
    }
    // hive_benchmark htmlTiny loads (schema template:1258-1290)
    locally {
      val rk = refRoot.resolve("hive_benchmark/htmlTiny/Rankings.dat")
      if (java.nio.file.Files.isRegularFile(rk)) {
        val sch = StructType.fromDDL(
          "pagerank int, pageurl string, avgduration int")
        mk(loadTextSerde(rk, sch, delim = "|"), sch, "rankingssmall")
      }
      val uv = refRoot.resolve("hive_benchmark/htmlTiny/UserVisits.dat")
      if (java.nio.file.Files.isRegularFile(uv)) {
        val sch = StructType.fromDDL(
          "sourceip string, desturl string, visitdate string, " +
            "adrevenue float, useragent string, ccode string, " +
            "lcode string, skeyword string, avgtimeonsite int")
        mk(loadTextSerde(uv, sch, delim = "|"), sch, "uservisitssmall")
      }
    }
    // table_with_header(_2) (schema template:2628-2642): text files
    // whose first 1/2 lines are headers, skipped via the
    // skip.header.line.count table property
    Seq(("table_with_header", 1), ("table_with_header_2", 2)).foreach {
      case (name, skip) =>
        val p = refRoot.resolve(s"data/$name.csv")
        if (java.nio.file.Files.isRegularFile(p)) {
          val sch = StructType.fromDDL("c1 int, c2 double")
          mk(loadTextSerde(p, sch).drop(skip), sch, name)
          // byte offsets past each header line's newline — the
          // MAX_SCAN_RANGE_LENGTH header-split error model
          // (hdfs-text-scanner.cc:745-751) reads these
          val bytes = java.nio.file.Files.readAllBytes(p)
          val ends = bytes.zipWithIndex.collect {
            case (b, i) if b == '\n' => i.toLong + 1
          }.take(skip).toSeq
          FunctionalTables.headerTables(name) = (skip, ends)
        }
    }
    // Iceberg fixtures (testdata/data/iceberg_test, HadoopTables
    // layout) through the native metadata walk — IcebergFiles
    Seq(
      "iceberg_partitioned" -> "data/iceberg_test/iceberg_partitioned",
      "iceberg_non_partitioned" -> "data/iceberg_test/iceberg_non_partitioned",
      // hadoop_catalog layout nests <warehouse>/<db>/<table>
      "hadoop_catalog_test_external" ->
        "data/iceberg_test/hadoop_catalog/hadoop_catalog_test/functional_parquet/hadoop_catalog_test",
      "iceberg_partitioned_orc_external" ->
        "data/iceberg_test/hadoop_catalog/iceberg_partitioned_orc/functional_parquet/iceberg_partitioned_orc"
    ).foreach { case (n, rel) =>
      val d = refRoot.resolve(rel)
      if (java.nio.file.Files.isDirectory(d)) try {
        IcebergFiles.readTable(spark, d.toString)
          .createOrReplaceTempView(n)
      } catch { case _: Throwable => }
    }
    // Hudi COW fixtures (testdata/data/hudi_parquet, schema
    // template:2868-2901): snapshot reads through the file-slice
    // selection, plus the read-as-plain-parquet duplicate twin
    locally {
      val hudiDir = refRoot.resolve("data/hudi_parquet")
      if (java.nio.file.Files.isDirectory(hudiDir)) try {
        HudiFiles.readTable(spark, hudiDir.toString, partitioned = true)
          .createOrReplaceTempView("hudi_partitioned")
        HudiFiles.readTable(spark, hudiDir.toString, partitioned = false)
          .createOrReplaceTempView("hudi_non_partitioned")
        HudiFiles.readAsPlainParquet(spark, hudiDir.toString)
          .createOrReplaceTempView("hudi_as_parquet")
      } catch { case _: Throwable => }
    }
    // max-nesting-depth fixtures (testdata/max_nesting_depth): one row
    // per 100-level-deep schema, one table per collection kind
    Seq("struct_tbl" -> "struct", "int_array_tbl" -> "int_array",
        "struct_array_tbl" -> "struct_array", "int_map_tbl" -> "int_map",
        "struct_map_tbl" -> "struct_map").foreach { case (name, d) =>
      val p = refRoot.resolve(s"max_nesting_depth/$d/file.parq")
      if (java.nio.file.Files.isRegularFile(p)) try {
        spark.read.parquet(p.toString).createOrReplaceTempView(name)
      } catch { case _: Throwable => }
    }
    // table_no_newline(_part): files whose last record has no trailing
    // newline; the _part union adds the ragged missing-columns file
    // as the 2015 partition (functional_schema_template.sql:2282-2295)
    val tnSch = StructType.fromDDL(
      "id int, col_1 boolean, col_2 double, col_3 timestamp")
    if (exists("data/table_no_newline.csv")) {
      val base = loadTextSerde(
        refRoot.resolve("data/table_no_newline.csv"), tnSch)
      mk(base, tnSch, "table_no_newline")
      if (exists("data/table_missing_columns.csv")) {
        val partSch = StructType(
          tnSch.fields ++ StructType.fromDDL("year int, month int").fields)
        val p2010 = base.map(r => Row.fromSeq(r.toSeq ++ Seq(2010, 3)))
        val p2015 = loadTextSerde(
          refRoot.resolve("data/table_missing_columns.csv"), tnSch)
          .map(r => Row.fromSeq(r.toSeq ++ Seq(2015, 3)))
        mk(p2010 ++ p2015, partSch, "table_no_newline_part")
      }
    }
  }

  /** IMPALA-5050 int64-timestamp fixtures (`tests/query_test/
    * test_scanners.py:887-935`): each parquet file doubles as a
    * TIMESTAMP table and a BIGINT table — Impala re-declares the same
    * file with BIGINT columns and reads the raw int64 values. The
    * bigint twins are derived by converting the timestamp columns back
    * to their epoch int64s UNDER UTC and materializing the handful of
    * rows, so later per-query session-timezone changes cannot shift
    * them (isAdjustedToUTC=false columns arrive as TIMESTAMP_NTZ, whose
    * raw int64 is the wall-clock epoch — cast to TIMESTAMP under the
    * UTC registration session reproduces it exactly).
    */
  private def registerInt64TimestampTables(spark: SparkSession,
      refRoot: java.nio.file.Path): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val canonical = Seq("new_logical_milli_utc", "new_logical_milli_local",
      "new_logical_micro_utc", "new_logical_micro_local")
    def bigintTwin(df: DataFrame): DataFrame = {
      val cols = df.schema.fields.map { f =>
        val unit = if (f.name.toLowerCase.contains("milli")) "unix_millis"
          else "unix_micros"
        f.dataType match {
          case TimestampType => expr(s"$unit(`${f.name}`)").as(f.name)
          case TimestampNTZType =>
            expr(s"$unit(cast(`${f.name}` as timestamp))").as(f.name)
          case _ => col(s"`${f.name}`")
        }
      }
      val out = df.select(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*)
      spark.createDataFrame(new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            out.collect().toSeq).asJava), out.schema)
    }
    val plain = refRoot.resolve("data/int64_timestamps_plain.parquet")
    if (java.nio.file.Files.isRegularFile(plain)) try {
      val df = spark.read.parquet(plain.toString).toDF(canonical: _*)
      df.createOrReplaceTempView("int64_timestamps_plain")
      bigintTwin(df).createOrReplaceTempView("int64_bigints_plain")
    } catch { case _: Throwable => }
    val dict = refRoot.resolve("data/int64_timestamps_dict.parquet")
    if (java.nio.file.Files.isRegularFile(dict)) try {
      val df = spark.read.parquet(dict.toString).toDF("id" +: canonical: _*)
      df.createOrReplaceTempView("int64_timestamps_dict")
      bigintTwin(df).createOrReplaceTempView("int64_bigints_dict")
    } catch { case _: Throwable => }
    Seq("int64_timestamps_at_dst_changes", "int64_timestamps_nano")
      .foreach { t =>
        val p = refRoot.resolve(s"data/$t.parquet")
        if (java.nio.file.Files.isRegularFile(p)) try {
          spark.read.parquet(p.toString).createOrReplaceTempView(t)
        } catch { case _: Throwable => }
      }
  }

  /** `functional_parquet.complextypestbl`'s 8 rows, the fixture behind
    * the `nested-types-*.test` goldens, as one JSON line per row. The
    * values are upstream Impala's `testdata/ComplexTypesTbl/
    * nullable.json` (ids 1-7) and `nonnullable.json` (id 8, whose field
    * names that file spells in mixed case, e.g. `int_array_Array`; Hive
    * loads them case-insensitively, so they are written lower-case
    * here). The reference stores them as two parquet files,
    * `nullable.parq` and `nonnullable.parq`, loaded in one transaction;
    * `complextypestbl__acid` keeps that split (id 8 in its own bucket).
    */
  private val complexTypesRows = Seq(
    """{"id": 1, "int_array": [1, 2, 3], "int_array_array": [[1, 2], [3, 4]], "int_map": {"k1": 1, "k2": 100}, "int_map_array": [{"k1": 1}], "nested_struct": {"a": 1, "b": [1], "c": {"d": [[{"e": 10, "f": "aaa"}, {"e": -10, "f": "bbb"}], [{"e": 11, "f": "c"}]]}, "g": {"foo": {"h": {"i": [1.1]}}}}}""",
    """{"id": 2, "int_array": [null, 1, 2, null, 3, null], "int_array_array": [[null, 1, 2, null], [3, null, 4], [], null], "int_map": {"k1": 2, "k2": null}, "int_map_array": [{"k3": null, "k1": 1}, null, {}], "nested_struct": {"a": null, "b": [null], "c": {"d": [[{"e": null, "f": null}, {"e": 10, "f": "aaa"}, {"e": null, "f": null}, {"e": -10, "f": "bbb"}, {"e": null, "f": null}], [{"e": 11, "f": "c"}, null], [], null]}, "g": {"g1": {"h": {"i": [2.2, null]}}, "g2": {"h": {"i": []}}, "g3": null, "g4": {"h": {"i": null}}, "g5": {"h": null}}}}""",
    """{"id": 3, "int_array": [], "int_array_array": [null], "int_map": {}, "int_map_array": [null, null], "nested_struct": {"a": null, "b": null, "c": {"d": []}, "g": {}}}""",
    """{"id": 4, "int_array": null, "int_array_array": [], "int_map": {}, "int_map_array": [], "nested_struct": {"a": null, "b": null, "c": {"d": null}, "g": null}}""",
    """{"id": 5, "int_array": null, "int_array_array": null, "int_map": {}, "nested_struct": {"a": null, "b": null, "c": null, "g": {"foo": {"h": {"i": [2.2, 3.3]}}}}}""",
    """{"id": 6, "nested_struct": null}""",
    """{"id": 7, "int_array": null, "int_array_array": [null, [5, 6]], "int_map": {"k1": null, "k3": null}, "int_map_array": null, "nested_struct": {"a": 7, "b": [2, 3, null], "c": {"d": [[], [null], null]}, "g": null}}""",
    """{"id": 8, "int_array": [-1], "int_array_array": [[-1, -2], []], "int_map": {"k1": -1}, "int_map_array": [{}, {"k1": 1}, {}, {}], "nested_struct": {"a": -1, "b": [-1], "c": {"d": [[{"e": -1, "f": "nonnullable"}]]}, "g": {}}}""")

  /** `complextypestbl`'s declared schema (schema template:743-751). */
  val complexTypesSchema: StructType = StructType.fromDDL(
    "id bigint, int_array array<int>, " +
      "int_array_array array<array<int>>, int_map map<string,int>, " +
      "int_map_array array<map<string,int>>, " +
      "nested_struct struct<a:int, b:array<int>, " +
      "c:struct<d:array<array<struct<e:int,f:string>>>>, " +
      "g:map<string,struct<h:struct<i:array<double>>>>>")

  /** `functional_parquet.complextypestbl` — the 8 rows of
    * [[complexTypesRows]] read into [[complexTypesSchema]] (FAILFAST, so
    * a malformed row fails instead of reading as NULLs) — plus the
    * twins derived from it.
    */
  def registerComplexTypesTbl(spark: SparkSession): Unit = {
    val base = spark.read.schema(complexTypesSchema)
      .option("mode", "FAILFAST")
      .json(spark.createDataset(complexTypesRows)(
        org.apache.spark.sql.Encoders.STRING))
    base.createOrReplaceTempView("complextypestbl")
    // Full-ACID twins (full-acid-rowid.test, acid.test,
    // full-acid-complex-type-scans.test): the generator's ORC tables
    // carry the synthetic row__id struct
    // (fe/.../util/AcidUtils.java getRowIdColumnType). The original
    // load is ONE transaction over two files — nullable.parq holds
    // ids 1-7 (ACID bucket 0 → encoded 536870912, rowids 0-6) and
    // nonnullable.parq id 8 (statement 1 → 536936448, rowid 0).
    base.selectExpr("*",
      "named_struct('operation', 0, " +
        "'originaltransaction', CAST(1 AS BIGINT), " +
        "'bucket', CAST(IF(id = 8, 536936448, 536870912) AS INT), " +
        "'rowid', CAST(IF(id = 8, 0, id - 1) AS BIGINT), " +
        "'currenttransaction', CAST(1 AS BIGINT)) AS row__id")
      .createOrReplaceTempView("complextypestbl__acid")
    // complextypestbl_deleted_rows (schema template: the even ids are
    // deleted by Hive) — rowids keep their original-file positions
    base.where("id % 2 = 1").selectExpr("*",
      "named_struct('operation', 0, " +
        "'originaltransaction', CAST(1 AS BIGINT), " +
        "'bucket', CAST(536870912 AS INT), " +
        "'rowid', CAST(id - 1 AS BIGINT), " +
        "'currenttransaction', CAST(1 AS BIGINT)) AS row__id")
      .createOrReplaceTempView("complextypestbl_deleted_rows")
    // complextypestbl_minor_compacted: eight single-row transactions
    // minor-compacted into one delta — each row keeps its own write
    // id as original/current transaction, rowid resets per delta
    base.selectExpr("*",
      "named_struct('operation', 0, " +
        "'originaltransaction', CAST(id AS BIGINT), " +
        "'bucket', CAST(536870912 AS INT), " +
        "'rowid', CAST(0 AS BIGINT), " +
        "'currenttransaction', CAST(id AS BIGINT)) AS row__id")
      .createOrReplaceTempView("complextypestbl_minor_compacted")
    // complextypestbl_medium = complextypestbl × alltypes (7,300
    // copies of each row — functional_schema_template.sql:824's
    // DEPENDENT_LOAD_HIVE INSERT joins the two with no condition);
    // derived, not stored, so the per-row collections stay identical
    scala.util.Try(spark.table("alltypes")).foreach { at =>
      base.crossJoin(at.select()).createOrReplaceTempView(
        "complextypestbl_medium")
    }
  }
}
