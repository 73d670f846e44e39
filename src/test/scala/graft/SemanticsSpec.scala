package graft

import org.apache.spark.sql.functions._

/** Semantics-parity specs for the risk areas in SURVEY.md §7.4:
  * NOT IN null-awareness, Impala NULL-ordering defaults, exact decimal
  * money math, `<=>`, set-op null handling, TABLESAMPLE.
  */
class SemanticsSpec extends SparkSpecBase {
  import spark.implicits._

  test("NOT IN over a subquery with NULLs returns no rows (null-aware anti)") {
    Seq(1, 2, 3).toDF("x").createOrReplaceTempView("probe_t")
    Seq(Some(1), None).toDF("y").createOrReplaceTempView("build_t")
    // Impala rewrites NOT IN to NULL_AWARE_LEFT_ANTI_JOIN
    // (PlanNodes.thrift:367-371); Spark's LeftAnti with <=> semantics
    // must agree: any NULL in the build side → empty result.
    assert(spark.sql(
      "SELECT x FROM probe_t WHERE x NOT IN (SELECT y FROM build_t)").count() == 0)
    // without the NULL, normal anti-join results
    assert(spark.sql(
      "SELECT x FROM probe_t WHERE x NOT IN (SELECT y FROM build_t WHERE y IS NOT NULL)")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("Impala default NULL ordering: ASC→NULLS LAST, DESC→NULLS FIRST") {
    // OrderByElement.java:115-116 — opposite of Spark's default, so the
    // engine always emits explicit null ordering.
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    assert(df.orderBy(asc_nulls_last("x")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq ==
      Seq(Some(1), Some(2), None))
    assert(df.orderBy(desc_nulls_first("x")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq ==
      Seq(None, Some(2), Some(1)))
  }

  test("extract millisecond includes seconds*1000; epoch follows wall-clock") {
    // udf-builtins.cc:514-518 ExtractMillisecond returns seconds*1000 +
    // fractional millis; :573-577 computes epoch from the naive
    // wall-clock, consistent with the other fields.
    val r = spark.sql(
      """SELECT impala_extract(TIMESTAMP '2009-01-01 00:00:05.1', 'millisecond'),
                impala_extract(TIMESTAMP '1970-01-01 01:00:00', 'epoch')""").head()
    assert(r.getLong(0) == 5100L)
    assert(r.getLong(1) == 3600L)
  }

  test("<=> IS NOT DISTINCT FROM matches NULLs") {
    val r = spark.sql(
      """SELECT NULL <=> NULL, 1 <=> 1, NULL <=> 1,
                CAST(NULL AS INT) IS NOT DISTINCT FROM CAST(NULL AS INT)""").head()
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2) && r.getBoolean(3))
  }

  test("INTERSECT/EXCEPT treat NULL as equal (set semantics)") {
    // SetOperationStmt.java:686-727 rewrites to SEMI/ANTI with <=>
    val a = Seq(Some(1), None, Some(2)).toDF("x")
    val b = Seq(Some(1), None, Some(3)).toDF("x")
    val inter = a.intersect(b).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
    assert(inter == Set(Some(1), None))
    val ex = a.except(b).collect().map(_.getInt(0)).toSeq
    assert(ex == Seq(2))
  }

  test("decimal money math is exact and order-independent") {
    // SURVEY §7.4 risk 1: DECIMAL_V2 exact sums. 0.1 + 0.2 == 0.3 in
    // DECIMAL, not in DOUBLE; sums must not drift with partitioning.
    val df = (1 to 10000).map(i => (i % 7, BigDecimal(i) / 100))
      .toDF("k", "amt")
    val total = df.agg(sum($"amt".cast("decimal(12,2)"))).head().getDecimal(0)
    assert(total == new java.math.BigDecimal("500050.00"))
    val repart = df.repartition(13).agg(sum($"amt".cast("decimal(12,2)")))
      .head().getDecimal(0)
    assert(repart == total)
  }

  test("TABLESAMPLE SYSTEM with REPEATABLE seed is deterministic") {
    // TableSampleClause.java:27-30 → Spark TABLESAMPLE
    GraftSession.registerAll(spark, sfDir)
    val n1 = spark.sql(
      "SELECT COUNT(*) FROM lineitem TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
      .head().getLong(0)
    val n2 = spark.sql(
      "SELECT COUNT(*) FROM lineitem TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
      .head().getLong(0)
    assert(n1 == n2)
    val total = spark.sql("SELECT COUNT(*) FROM lineitem").head().getLong(0)
    assert(n1 > 0 && n1 < total)
  }

  test("scalar subquery over >1 row fails (CardinalityCheckNode analog)") {
    Seq(1, 2).toDF("x").createOrReplaceTempView("two_rows_t")
    val e = intercept[Exception] {
      spark.sql("SELECT (SELECT x FROM two_rows_t)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("more than one row") ||
      e.getMessage.contains("SCALAR_SUBQUERY"))
  }

  test("VALUES lists and CTEs") {
    val r = spark.sql(
      """WITH v(a, b) AS (VALUES (1, 'x'), (2, 'y'))
         SELECT a, b FROM v ORDER BY a""").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(r.map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("CREATE VIEW / temp view over fixtures (CreateViewStmt analog)") {
    GraftSession.registerAll(spark, sfDir)
    spark.sql("""CREATE OR REPLACE TEMP VIEW big_orders AS
                 SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_totalprice > 50000""")
    val n = spark.sql("SELECT COUNT(*) FROM big_orders").head().getLong(0)
    val direct = spark.sql(
      "SELECT COUNT(*) FROM orders WHERE o_totalprice > 50000").head().getLong(0)
    assert(n == direct && n > 0)
    // views compose (view-on-view)
    spark.sql("""CREATE OR REPLACE TEMP VIEW big_orders2 AS
                 SELECT * FROM big_orders WHERE o_orderkey % 2 = 0""")
    assert(spark.sql("SELECT COUNT(*) FROM big_orders2").head().getLong(0) <= n)
  }

  test("CHAR(n)/VARCHAR(n) semantics parity (catalog/ScalarType.java:39)") {
    // --- expression tier, dialect mode: Impala truncates to n and pads
    // CHAR to n (cast-expr length enforcement); Spark's own cast to
    // these types is a no-op string cast, so ImpalaDialect rewrites.
    def one(q: String) = ImpalaDialect.sql(spark, q).head().getString(0)
    assert(one("SELECT CAST('hello' AS CHAR(3))") == "hel")     // truncate
    assert(one("SELECT CAST('hi' AS CHAR(5))") == "hi   ")     // pad to 5
    assert(one("SELECT CAST('hello' AS VARCHAR(3))") == "hel") // truncate
    assert(one("SELECT CAST('hi' AS VARCHAR(5))") == "hi")     // no pad
    assert(ImpalaDialect.sql(spark,
      "SELECT length(CAST('hi' AS CHAR(5)))").head().getInt(0) == 5)

    // --- table-schema tier: Spark natively matches Impala — CHAR
    // columns read back space-padded to n, and comparisons against both
    // padded and unpadded literals succeed (padding-insensitive
    // comparison, the CHAR comparison rule both engines share)
    spark.sql("DROP TABLE IF EXISTS graft_chr_t")
    spark.sql("CREATE TABLE graft_chr_t (c CHAR(5), v VARCHAR(5)) USING parquet")
    spark.sql("INSERT INTO graft_chr_t VALUES ('hi', 'hi')")
    val r = spark.sql(
      """SELECT c, length(c), v, length(v), c = 'hi', c = 'hi   '
         FROM graft_chr_t""").head()
    assert(r.getString(0) == "hi   " && r.getInt(1) == 5)
    assert(r.getString(2) == "hi" && r.getInt(3) == 2)
    assert(r.getBoolean(4) && r.getBoolean(5))

    // --- DOCUMENTED DELTA: over-length INSERT. Impala silently
    // truncates a too-long value on write (CHAR/VARCHAR length
    // enforcement in the sink); Spark raises EXCEED_LIMIT_LENGTH
    // (ANSI-stricter). Pinned so a behavior change is noticed.
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_chr_t VALUES ('toolongvalue', 'x')")
    }
    assert(e.getMessage.contains("EXCEED_LIMIT_LENGTH") ||
      e.getMessage.toLowerCase.contains("length"), e.getMessage)
    spark.sql("DROP TABLE graft_chr_t")
  }

  test("INSERT INTO / INSERT OVERWRITE partitioned table (HdfsTableSink)") {
    val loc = GraftSession.tempDir("graft_ins").toString
    spark.sql("DROP TABLE IF EXISTS graft_ins_t")
    spark.sql(
      s"""CREATE TABLE graft_ins_t (k INT, v STRING) USING parquet
          PARTITIONED BY (p STRING) LOCATION '$loc'""")
    spark.sql("INSERT INTO graft_ins_t PARTITION (p='a') VALUES (1, 'one')")
    spark.sql("INSERT INTO graft_ins_t PARTITION (p='a') VALUES (2, 'two')")
    spark.sql("INSERT INTO graft_ins_t PARTITION (p='b') VALUES (3, 'three')")
    assert(spark.table("graft_ins_t").count() == 3)
    // dynamic partition overwrite replaces only partition 'a'
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("INSERT OVERWRITE graft_ins_t PARTITION (p='a') VALUES (9, 'nine')")
    val rows = spark.table("graft_ins_t").collect()
      .map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
    assert(rows == Seq((3, "b"), (9, "a")))
    spark.sql("DROP TABLE graft_ins_t")
  }
}
