package graft

/** Impala-shaped EXPLAIN rendering (plans.ImpalaExplain) — the level-0
  * and level-1 shapes are pinned verbatim by the reference's
  * explain-level0.test / explain-level1.test; this spec asserts the structural pieces
  * directly: node numbering, broadcast branch layout, runtime-filter
  * edges, the coordinator crown, and the missing-stats warning.
  */
class ExplainSpec extends SparkSpecBase {

  private def lines(sql: String): Seq[String] = {
    GraftSession.registerAll(spark, sfDir)
    ImpalaDialect.sql(spark, sql).collect().map(_.getString(0)).toSeq
  }

  test("level 0: broadcast join renders Impala's minimal shape") {
    spark.conf.set("graft.explain.level", "0")
    try {
      val out = lines(
        "explain select * from tpch.lineitem join tpch.orders on l_orderkey = o_orderkey")
      assert(out(0).matches(
        raw"Max Per-Host Resource Reservation: Memory=[0-9.]*MB Threads=[0-9]*"))
      assert(out(1).matches(raw"Per-Host Resource Estimates: Memory=[0-9.]*MB"))
      assert(out(2) == "WARNING: The following tables are missing " +
        "relevant table and/or column statistics.")
      assert(out(3) == "tpch.lineitem, tpch.orders")
      assert(out(4) == "")
      assert(out.drop(5) == Seq(
        "PLAN-ROOT SINK",
        "04:EXCHANGE [UNPARTITIONED]",
        "02:HASH JOIN [INNER JOIN, BROADCAST]",
        "|--03:EXCHANGE [BROADCAST]",
        "|  01:SCAN HDFS [tpch.orders]",
        "00:SCAN HDFS [tpch.lineitem]"), out.mkString("\n"))
    } finally spark.conf.unset("graft.explain.level")
  }

  test("level 1: detail lines, separators and runtime-filter edges") {
    spark.conf.set("graft.explain.level", "1")
    try {
      val out = lines(
        "explain select * from tpch.lineitem join tpch.orders on l_orderkey = o_orderkey")
      val body = out.dropWhile(_ != "PLAN-ROOT SINK")
      assert(body(0) == "PLAN-ROOT SINK")
      assert(body(1) == "|")
      assert(body(2) == "04:EXCHANGE [UNPARTITIONED]")
      assert(body(3) == "|")
      assert(body(4) == "02:HASH JOIN [INNER JOIN, BROADCAST]")
      assert(body(5) == "|  hash predicates: l_orderkey = o_orderkey")
      assert(body(6) == "|  runtime filters: RF000 <- o_orderkey")
      assert(body(7).startsWith("|  row-size="))
      assert(body(8) == "|")
      assert(body(9) == "|--03:EXCHANGE [BROADCAST]")
      assert(body(10) == "|  |")
      assert(body(11) == "|  01:SCAN HDFS [tpch.orders]")
      assert(body(12).matches(raw"\|     partitions=1/1 files=[0-9]+ size=.*"))
      assert(body(13).startsWith("|     row-size="))
      assert(body(14) == "|")
      assert(body(15) == "00:SCAN HDFS [tpch.lineitem]")
      assert(body(16).matches(raw"   partitions=1/1 files=[0-9]+ size=.*"))
      assert(body(17) == "   runtime filters: RF000 -> l_orderkey")
      assert(body(18).startsWith("   row-size="))
      assert(body.length == 19)
    } finally spark.conf.unset("graft.explain.level")
  }

  test("missing-stats warning lists unanalyzed tables in first-use order") {
    spark.conf.set("graft.explain.level", "0")
    try {
      val out = lines(
        "explain select count(t1.l_orderkey) from tpch.lineitem t1 " +
          "join tpch.orders t2 on t1.l_orderkey = t2.o_orderkey " +
          "join tpch.lineitem t3 on t2.o_orderkey = t3.l_orderkey")
      assert(out.contains("WARNING: The following tables are missing " +
        "relevant table and/or column statistics."))
      assert(out.contains("tpch.lineitem, tpch.orders"))
    } finally spark.conf.unset("graft.explain.level")
  }

  test("aggregate renders STREAMING below the exchange, FINALIZE above") {
    spark.conf.set("graft.explain.level", "0")
    try {
      val out = lines(
        "explain select l_returnflag, count(*) from tpch.lineitem group by l_returnflag")
      val agg = out.filter(_.contains("AGGREGATE"))
      assert(agg.exists(_.contains("AGGREGATE [FINALIZE]")), out.mkString("\n"))
      assert(agg.exists(_.contains("AGGREGATE [STREAMING]")), out.mkString("\n"))
      assert(out.exists(_.matches(raw"\d\d:EXCHANGE \[HASH\(l_returnflag.*\)\]")),
        out.mkString("\n"))
    } finally spark.conf.unset("graft.explain.level")
  }

  test("EXPLAIN plans without AQE and leaves the caller's session conf alone") {
    GraftSession.registerAll(spark, sfDir)
    val aqe = "spark.sql.adaptive.enabled"
    var shared, planning = ""
    val out = plans.ImpalaExplain.explainSql(spark,
      "select l_returnflag, count(*) from tpch.lineitem group by l_returnflag",
      (s, q) => {
        shared = spark.conf.get(aqe)
        planning = s.conf.get(aqe)
        ImpalaDialect.sql(s, q)
      }).collect().map(_.getString(0))
    assert(shared == "true", "EXPLAIN wrote the shared session's conf")
    assert(planning == "false", "the rendered plan must be the static one")
    assert(out.exists(_.contains("AGGREGATE [FINALIZE]")), out.mkString("\n"))
    assert(spark.conf.get(aqe) == "true")
  }
}
