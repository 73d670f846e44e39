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
  *
  * Every table here is generated in the repo; none is read from a
  * reference checkout. Specs call [[register]] for the functional
  * fixtures they query.
  */
object FunctionalTables {

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
    // semijointbla/b: the 7-row inline tables
    // `tests/query_test/test_join_queries.py:173-193` creates for the
    // semi-joins workload
    val semiSchema = StructType.fromDDL("a int, b int, c int")
    mk(Seq(Row(1, 1, 1), Row(1, 1, 10), Row(1, 2, 10), Row(1, 3, 10),
      Row(null, null, 30), Row(2, 4, 30), Row(2, null, 20)),
      semiSchema, "semijointbla")
    mk(Seq(Row(1, 1, 1), Row(1, 1, 10), Row(1, 2, 5), Row(1, null, 10),
      Row(2, 10, null), Row(3, null, null), Row(3, null, 50)),
      semiSchema, "semijointblb")
    // emptytable: declared partitioned, never loaded
    mk(Nil, StructType.fromDDL("field string, f2 int"), "emptytable")
    registerComplexTypesTbl(spark)
    registerSchemaViews(spark)
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
