package graft

import org.apache.spark.sql.types._

/** DECIMAL semantics (SURVEY.md §7.4 risk 1): the reference runs
  * DECIMAL_V2 (`common/thrift/ImpalaInternalService.thrift:233` —
  * stricter types, errors on overflow instead of NULL). Spark's ANSI
  * mode (default in Spark 4) matches that stance; these tests pin the
  * result-type rules and exactness we rely on in the oracle queries.
  */
class DecimalSpec extends SparkSpecBase {

  private def typeOf(expr: String): DataType =
    spark.sql(s"SELECT $expr AS x").schema.head.dataType

  test("addition/subtraction result types") {
    assert(typeOf("CAST(1 AS DECIMAL(12,2)) + CAST(1 AS DECIMAL(12,2))") ==
      DecimalType(13, 2))
    assert(typeOf("CAST(1 AS DECIMAL(10,2)) + CAST(1 AS DECIMAL(10,4))") ==
      DecimalType(13, 4))
  }

  test("multiplication result types (the q1 money-math shape)") {
    // dec2 * frac2 — the lineitem revenue term
    assert(typeOf("CAST(1 AS DECIMAL(12,2)) * CAST(1 AS DECIMAL(4,2))") ==
      DecimalType(17, 4))
  }

  test("division keeps at least 6 scale digits (DECIMAL_V2 minimum)") {
    val dt = typeOf("CAST(1 AS DECIMAL(12,2)) / CAST(3 AS DECIMAL(12,2))")
      .asInstanceOf[DecimalType]
    assert(dt.scale >= 6, dt)
  }

  test("exactness: no binary-float drift") {
    val r = spark.sql(
      "SELECT CAST(0.1 AS DECIMAL(10,2)) + CAST(0.2 AS DECIMAL(10,2)) = CAST(0.3 AS DECIMAL(10,2))")
      .head().getBoolean(0)
    assert(r)
  }

  test("overflow errors under ANSI (DECIMAL_V2 behavior, not NULL)") {
    // V1 returned NULL on overflow; V2 (and Spark ANSI) raise
    val e = intercept[Exception] {
      spark.sql(
        "SELECT CAST(99999999999999999999 AS DECIMAL(20,0)) * CAST(99999999999999999999 AS DECIMAL(20,0)) * CAST(99999999999999999999 AS DECIMAL(20,0))")
        .collect()
    }
    assert(e.getMessage.contains("overflow") ||
      e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
      e.getMessage.contains("cannot be represented"), e.getMessage)
  }

  /** The error an Impala-dialect query over one row of DECIMAL(38,0)
    * operands raises: `big` is the largest 38-digit value, `d34` a
    * 34-digit one.
    */
  private def v2Error(sql: String): String = {
    spark.sql("SELECT CAST('9' || repeat('9', 37) AS DECIMAL(38,0)) AS big, " +
        "CAST(1 AS DECIMAL(38,0)) AS one, " +
        "CAST('1' || repeat('0', 33) AS DECIMAL(38,0)) AS d34")
      .createOrReplaceTempView("dec_v2")
    intercept[Exception](ImpalaDialect.sql(spark, sql).collect()).getMessage
  }

  // ImpalaDecimalArithGuard: Impala raises where Spark's TRY arithmetic
  // (which the dialect asks for, to own the message) would return NULL
  test("DECIMAL_V2 multiply overflow raises Impala's error, not NULL") {
    val msg = v2Error("SELECT big * big FROM dec_v2")
    assert(msg.contains("UDF ERROR: Decimal expression overflowed"), msg)
  }

  test("DECIMAL_V2 add overflow raises Impala's error, not NULL") {
    val msg = v2Error("SELECT big + one FROM dec_v2")
    assert(msg.contains("UDF ERROR: Decimal expression overflowed"), msg)
  }

  // ImpalaDecimalRescale: Impala's avg over DECIMAL(38,0) returns
  // DECIMAL(38,6), where a 34-digit mean does not fit; Spark's own
  // DECIMAL(38,4) result would hold it
  test("DECIMAL_V2 avg overflows at Impala's result scale") {
    val msg = v2Error("SELECT avg(d34) FROM dec_v2")
    assert(msg.contains("UDF ERROR: Avg computation overflowed"), msg)
  }

  test("aggregate decimal sum is exact across repartitioning") {
    import spark.implicits._
    val df = (1 to 9999).map(i => BigDecimal(i) / 100).toDF("d")
    val expected = new java.math.BigDecimal("499950.00")
    assert(df.repartition(7).agg(org.apache.spark.sql.functions.sum(
      $"d".cast(DecimalType(12, 2)))).head().getDecimal(0) == expected)
  }

  // ---- legacy DECIMAL_V2=false (V1) semantics ----
  // TypesUtil.getDecimalArithmeticResultTypeV1 + the V1 runtime
  // contracts (decimal-exprs.test `set decimal_v2=false` sections)

  private def v1[T](body: => T): T = {
    spark.conf.set("graft.opt.DECIMAL_V2", "0")
    try body finally spark.conf.unset("graft.opt.DECIMAL_V2")
  }

  test("V1 divide: result type (sMax+p2+1 scale) and truncation") {
    v1 {
      val df = ImpalaDialect.sql(spark,
        "select cast(2345 as decimal(9,0)) / cast(111 as decimal(10,0)) as q")
      assert(df.schema.head.dataType == DecimalType(20, 11))
      // 2345/111 = 21.126126126126… — V1 truncates (V2 rounds …13)
      assert(df.head().getDecimal(0).toPlainString == "21.12612612612")
    }
  }

  test("V1 divide/mod by zero NULLs (V2 raises)") {
    v1 {
      val r = ImpalaDialect.sql(spark,
        "select cast(5 as decimal(9,0)) / cast(0 as decimal(9,0)) as q," +
          " cast(5 as decimal(9,0)) % cast(0 as decimal(9,0)) as m").head()
      assert(r.isNullAt(0) && r.isNullAt(1))
    }
  }

  test("V1 decimal→decimal cast truncates; overflow NULLs") {
    v1 {
      val r = ImpalaDialect.sql(spark,
        "select cast(cast(1.2345678900 as decimal(20,10)) as decimal(20,3)) as t," +
          " cast(cast(12345.678 as decimal(20,3)) as decimal(5,2)) as o").head()
      assert(r.getDecimal(0).toPlainString == "1.234") // V2 rounds to 1.235
      assert(r.isNullAt(1))
    }
  }

  test("V1 sum/avg wrap around in int128 like the BE's unchecked add") {
    v1 {
      val r = ImpalaDialect.sql(spark,
        "with t as (select cast(99999999999999999999999999999999999999 as decimal(38,0)) c " +
          "union all select cast(99999999999999999999999999999999999999 as decimal(38,0))) " +
          "select sum(c) as s, avg(c) as a from t").head()
      // true sum 2·(10^38−1) wraps mod 2^128, renders mod 10^38
      assert(r.getDecimal(0).toPlainString ==
        "-40282366920938463463374607431768211458")
      // avg divides the WRAPPED sum by the count, truncating
      assert(r.getDecimal(1).toPlainString ==
        "-70141183460469231731687303715884105729")
    }
  }

  test("V1 literal heuristic: decimal literal op integer is DOUBLE") {
    v1 {
      val r = ImpalaDialect.sql(spark,
        "select typeof(9.6 % 3) as t, 10.0 / 0 as d").head()
      assert(r.getString(0) == "DOUBLE")
      assert(r.getDouble(1).isPosInfinity)
      // mod() the FUNCTION keeps decimal typing via arg coercion
      assert(ImpalaDialect.sql(spark, "select typeof(mod(9.6, 3))")
        .head().getString(0) == "DECIMAL(4,1)")
    }
  }
  test("UnscaledDec fast path == UnscaledValue(Cast) on adversarial doubles") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    val spark2 = spark
    import spark2.implicits._
    // boundary-straddlers, shortest-repr traps, negatives, exact 2-dec
    // values, and a deterministic pseudo-random sweep
    val tricky = Seq(0.005, -0.005, 1.115, -1.115, 1.15, 0.1 + 0.2, 0.0,
      -0.0, 123.456, 99999999.99, -99999999.99, 1.005, 2.675,
      0.0049999999999999999, 1e-13, 37.0, 0.07)
    val rng = new scala.util.Random(7)
    val sweep = Seq.fill(20000)(
      math.rint(rng.nextDouble() * 1e7) / 100.0) ++
      Seq.fill(20000)(rng.nextDouble() * 1e5)
    val df = (tricky ++ sweep).toDF("d")
    def u(p: Int, sc: Int) =
      Bridge.column(graft.functions.UnscaledDec(Bridge.expression(col("d")), p, sc))
    def ref(p: Int, sc: Int) =
      Bridge.column(UnscaledValue(Bridge.expression(
        col("d").cast(org.apache.spark.sql.types.DecimalType(p, sc)))))
    val bad = df.filter(
        u(12, 2) =!= ref(12, 2) || u(12, 4) =!= ref(12, 4))
      .limit(5).collect()
    assert(bad.isEmpty, bad.mkString(", "))
    // and over a real fixture money column
    val li = GraftSession.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_extendedprice").as("d"))
    val badLi = li.filter(u(12, 2) =!= ref(12, 2)).limit(5).collect()
    assert(badLi.isEmpty, badLi.mkString(", "))
  }

}
