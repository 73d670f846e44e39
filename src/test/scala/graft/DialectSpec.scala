package graft

/** Specs for the Impala SQL dialect shim. */
class DialectSpec extends SparkSpecBase {
  import spark.implicits._

  /** Checks every (name, actual, expected) row and reports all the
    * failing ones together. */
  private def assertRows(rows: Seq[(String, () => Any, Any)]): Unit = {
    val bad = rows.flatMap { case (name, got, want) =>
      val g = scala.util.Try(got()).fold(e => s"threw $e", identity)
      if (g == want) None else Some(s"$name: got $g, want $want")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("dialect ORDER BY uses Impala default NULL ordering") {
    Seq(Some(2), None, Some(1)).toDF("x").createOrReplaceTempView("d_nulls")
    // plain ORDER BY x: Spark default puts NULL first; Impala puts it last
    val asc = ImpalaDialect.sql(spark, "SELECT x FROM d_nulls ORDER BY x")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(asc.toSeq == Seq(Some(1), Some(2), None))
    val desc = ImpalaDialect.sql(spark, "SELECT x FROM d_nulls ORDER BY x DESC")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(desc.toSeq == Seq(None, Some(2), Some(1)))
    // window sorts get the same defaults
    val rn = ImpalaDialect.sql(spark,
      "SELECT x, row_number() OVER (ORDER BY x) rn FROM d_nulls")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getInt(1)))
      .toMap
    assert(rn(None) == 3)
  }

  // found by scripts/dialect_check.py: the fixtures' timestamps read as
  // TIMESTAMP_NTZ, and these five returned NULL for every row
  test("date_add/date_sub/adddate/subdate/add_months shift the fixtures' timestamps") {
    GraftSession.registerAll(spark, sfDir)
    val row = ImpalaDialect.sql(spark, """
      SELECT count(*),
        count(CASE WHEN date_add(o_orderdate, 3) = days_add(o_orderdate, 3) THEN 1 END),
        count(CASE WHEN date_sub(o_orderdate, 3) = days_sub(o_orderdate, 3) THEN 1 END),
        count(CASE WHEN adddate(o_orderdate, 3) = days_add(o_orderdate, 3) THEN 1 END),
        count(CASE WHEN subdate(o_orderdate, 3) = days_sub(o_orderdate, 3) THEN 1 END),
        count(CASE WHEN add_months(o_orderdate, 13) = months_add(o_orderdate, 13) THEN 1 END)
      FROM orders""").head()
    val n = row.getLong(0)
    assert(n > 0 && (1 to 5).forall(row.getLong(_) == n), row.toString)
  }

  // found by scripts/dialect_check.py: trunc(ts, 'Q') was NULL, and
  // trunc returned a DATE where Impala keeps the TIMESTAMP
  test("trunc keeps a TIMESTAMP a TIMESTAMP and knows every Impala unit") {
    GraftSession.registerAll(spark, sfDir)
    // 2001-08-17 is a Friday; 2001 starts on a Monday, August on a Wednesday
    val ts = "CAST('2001-08-17 10:35:12' AS TIMESTAMP)"
    def at(unit: String, of: String = ts): String =
      ImpalaDialect.sql(spark, s"SELECT CAST(trunc($of, '$unit') AS STRING)")
        .head().getString(0)
    assertRows(Seq(
      ("YEAR", () => at("YEAR"), "2001-01-01 00:00:00"),
      ("Y", () => at("Y"), "2001-01-01 00:00:00"),
      ("Q", () => at("Q"), "2001-07-01 00:00:00"),
      ("MM", () => at("MM"), "2001-08-01 00:00:00"),
      ("WW", () => at("WW"), "2001-08-13 00:00:00"),
      ("W", () => at("W"), "2001-08-15 00:00:00"),
      ("DD", () => at("DD"), "2001-08-17 00:00:00"),
      ("D", () => at("D"), "2001-08-13 00:00:00"),
      ("HH", () => at("HH"), "2001-08-17 10:00:00"),
      ("MI", () => at("MI"), "2001-08-17 10:35:00"),
      ("DATE stays DATE", () => at("Q", "DATE '2001-08-17'"), "2001-07-01"),
      ("fixture column", () => ImpalaDialect.sql(spark,
        "SELECT CAST(trunc(o_orderdate, 'Q') AS STRING) FROM orders " +
          "WHERE o_orderdate = '1995-05-01'").head().getString(0),
        "1995-04-01 00:00:00")))
    val e = intercept[Exception](at("XX"))
    assert(e.getMessage.contains("Invalid Truncate Unit: XX"), e.getMessage)
  }

  test("CAST ... FORMAT clause translates ISO-SQL patterns") {
    val ts = ImpalaDialect.sql(spark,
      "SELECT CAST('2024-02-29 13:45:59' AS TIMESTAMP FORMAT 'YYYY-MM-DD HH24:MI:SS') t")
      .head().getTimestamp(0)
    assert(ts.toString == "2024-02-29 13:45:59.0")
    val s = ImpalaDialect.sql(spark,
      "SELECT CAST(TIMESTAMP '2024-02-29 13:45:59' AS STRING FORMAT 'DD/MM/YYYY') t")
      .head().getString(0)
    assert(s == "29/02/2024")
    val d = ImpalaDialect.sql(spark,
      "SELECT CAST('29-Feb-2024' AS DATE FORMAT 'DD-MON-YYYY') t")
      .head().getDate(0)
    assert(d.toString == "2024-02-29")
  }

  test("format token translation table") {
    assert(ImpalaDialect.translateFormat("YYYY-MM-DD") == "yyyy-MM-dd")
    assert(ImpalaDialect.translateFormat("HH24:MI:SS.FF6") == "HH:mm:ss.SSSSSS")
    assert(ImpalaDialect.translateFormat("DY DD MON YYYY") == "EEE dd MMM yyyy")
  }

  test("Impala join hints lift to Spark hints and shape the plan") {
    GraftSession.registerAll(spark, sfDir)
    // bracket form → BROADCAST(alias): result unchanged, plan broadcasts
    val bc = ImpalaDialect.sql(spark,
      """SELECT COUNT(*) FROM nation n JOIN [BROADCAST] region r
         ON n.n_regionkey = r.r_regionkey""")
    assert(bc.head().getLong(0) == 25)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // comment form → SHUFFLE_HASH(alias): no broadcast in the plan
    val sh = ImpalaDialect.sql(spark,
      """SELECT COUNT(*) FROM nation n JOIN /* +SHUFFLE */ region r
         ON n.n_regionkey = r.r_regionkey""")
    assert(sh.head().getLong(0) == 25)
    assert(sh.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
    // STRAIGHT_JOIN strips; NOSHUFFLE drops; query still runs
    val st = ImpalaDialect.sql(spark,
      """SELECT STRAIGHT_JOIN COUNT(*) FROM nation n
         JOIN [NOSHUFFLE] region r ON n.n_regionkey = r.r_regionkey""")
    assert(st.head().getLong(0) == 25)
    // pure-string checks
    assert(ImpalaDialect.rewriteHints(
      "SELECT * FROM a JOIN [SHUFFLE] b ON a.k = b.k")
      .startsWith("SELECT /*+ SHUFFLE_HASH(b) */"))
    assert(ImpalaDialect.rewriteHints(
      "SELECT * FROM a JOIN /* +BROADCAST */ dim d ON a.k = d.k")
      .startsWith("SELECT /*+ BROADCAST(d) */"))
  }

  test("hints on derived tables strip (fallback), CTE hints land on the outer block") {
    GraftSession.registerAll(spark, sfDir)
    // Impala-legal hint before a derived table: the lift can't target
    // it, but the leftover bracket must not reach Spark's parser
    val dv = ImpalaDialect.sql(spark,
      """SELECT COUNT(*) FROM nation n JOIN [BROADCAST]
         (SELECT r_regionkey FROM region) v
         ON n.n_regionkey = v.r_regionkey""")
    assert(dv.head().getLong(0) == 25)
    // leading CTE: the lifted hint must attach to the OUTER select,
    // where the hinted relation is in scope — not the CTE body's
    val rewritten = ImpalaDialect.rewriteHints(
      """WITH x AS (SELECT n_nationkey, n_regionkey FROM nation)
         SELECT COUNT(*) FROM x JOIN [BROADCAST] region r
         ON x.n_regionkey = r.r_regionkey""")
    assert(!rewritten.contains("["), rewritten)
    val outer = rewritten.indexOf("SELECT COUNT")
    assert(rewritten.indexOf("/*+ BROADCAST(r) */") > outer, rewritten)
    val cte = ImpalaDialect.sql(spark,
      """WITH x AS (SELECT n_nationkey, n_regionkey FROM nation)
         SELECT COUNT(*) FROM x JOIN [BROADCAST] region r
         ON x.n_regionkey = r.r_regionkey""")
    assert(cte.head().getLong(0) == 25)
    assert(cte.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("RIGHT SEMI/ANTI JOIN rewrites to the swapped LEFT form") {
    GraftSession.registerAll(spark, sfDir)
    // right semi: rows of nation having a matching region (all 25)
    val semi = ImpalaDialect.sql(spark,
      """SELECT count(*) FROM region RIGHT SEMI JOIN nation
         ON n_regionkey = r_regionkey""")
    assert(semi.head().getLong(0) == 25)
    // right anti over a filtered build side: nations whose region key
    // is NOT in {0, 1} → 15
    val anti = ImpalaDialect.sql(spark,
      """SELECT count(*) FROM (SELECT * FROM region WHERE r_regionkey < 2) r
         RIGHT ANTI JOIN nation ON n_regionkey = r_regionkey""")
    assert(anti.head().getLong(0) == 15)
    // conservative guard: a join tree on the left is NOT rewritten
    val tree = "SELECT * FROM a JOIN b ON a.k = b.k RIGHT SEMI JOIN c ON b.k = c.k"
    assert(ImpalaDialect.rewriteRightSemiAnti(tree) == tree)
  }

  test("group_concat evaluates the separator per row (StringConcatUpdate)") {
    GraftSession.registerAll(spark, sfDir)
    // aggregation.test golden semantics: value_i preceded by ITS row's
    // separator, first row's separator stripped
    val r = spark.sql(
      """SELECT group_concat(CAST(id AS STRING), CAST(10 - id AS STRING))
         FROM (SELECT id FROM range(4) ORDER BY id)""")
      .head().getString(0)
    assert(r == "0918273", r)
  }

  test("GraftSession.sql one-call facade") {
    val r = GraftSession.sql(spark, sfDir,
      "SELECT ndv(c_custkey) AS n FROM customer").head().getLong(0)
    assert(r > 0)
  }

  test("VALUES first-row aliases become a table-alias column list") {
    // direct rows with AS / bare aliases, mixed-arity forms
    val r1 = ImpalaDialect.sql(spark,
      "select max(str) m from (values ('aaa' as str), ('zz'), ('123')) as tmp")
      .head().getString(0)
    assert(r1 == "zz")
    // Impala's extra wrapping paren unwraps (Spark would read one wide row)
    val r2 = ImpalaDialect.sql(spark,
      "select x, count(*) n from (VALUES((1 x), (2), (3))) T group by x")
      .collect()
    assert(r2.length == 3)
    // multi-column first row
    val r3 = ImpalaDialect.sql(spark,
      "select id, int_col from (values((1 as id, 10 as int_col),(2,20))) e " +
        "order by id").collect()
    assert(r3.map(_.getInt(1)).toSeq == Seq(10, 20))
  }

  test("double-quoted aliases, &&, factorial, column INTERVAL rewrite") {
    val r = ImpalaDialect.sql(spark,
      """select count(*) as "row count", 3! as f from (values (1 x), (2)) t
         where x > 0 && x < 10""").head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 6)
    val ts = ImpalaDialect.sql(spark,
      "select cast('1970-01-01' as timestamp) + interval n days as d " +
        "from (values (3 as n)) t").head().getTimestamp(0)
    assert(ts.toString.startsWith("1970-01-04"))
  }

  test("misc-form rewrites never touch string literals or comments") {
    // '&&' and '!' inside literals occur in the reference corpus itself
    // (data-source-tables.test, exprs.test:2321) — they must survive
    val r = ImpalaDialect.sql(spark,
      """select 'a && b' as amp, 'xyz!!qwe' as bang, 'cast(x AS REAL)' as re,
                'sum(x) AS "30 days"' as qa, 3! as f
         from (values (1 x)) t where x > 0 && 'u!' = 'u!'""").head()
    assert(r.getString(0) == "a && b")
    assert(r.getString(1) == "xyz!!qwe")
    assert(r.getString(2) == "cast(x AS REAL)")
    assert(r.getString(3) == """sum(x) AS "30 days"""")
    assert(r.getLong(4) == 6L)
    // comment text with '&&' / '!' / AS REAL is untouched too
    val c = ImpalaDialect.sql(spark,
      "select count(*) n -- x && y! AS REAL\nfrom (values (1 x)) t").head()
    assert(c.getLong(0) == 1L)
    // every other text rewrite leaves literals alone as well, and a
    // backslash-escaped quote does not end a literal
    def one(q: String): Seq[Any] = ImpalaDialect.sql(spark, q).head().toSeq
    val rows: Seq[(String, () => Any, Any)] = Seq(
      ("count() in a literal", () => one("SELECT 'count()' AS s"),
        Seq("count()")),
      ("bracket hint in a literal", () => one("SELECT '[SHUFFLE] x' AS h"),
        Seq("[SHUFFLE] x")),
      ("comment hint in a literal",
        () => ImpalaDialect.rewrite("SELECT 'a /* +BROADCAST */ b'"),
        "SELECT 'a /* +BROADCAST */ b'"),
      ("IGNORE NULLS in a literal",
        () => ImpalaDialect.rewrite("SELECT 'first_value(x ignore nulls)'"),
        "SELECT 'first_value(x ignore nulls)'"),
      ("typed literal in a literal",
        () => one("""SELECT 'DATE "2020-01-01"' AS s"""),
        Seq("DATE \"2020-01-01\"")),
      ("&& after an escaped quote",
        () => one("SELECT 'it\\'s' AS s, true && false AS b"),
        Seq("it's", false)),
      ("CAST in a literal", () => one("SELECT 'CAST(1 AS CHAR(3))' AS c"),
        Seq("CAST(1 AS CHAR(3))")),
      ("RIGHT SEMI JOIN after one in a literal",
        () => ImpalaDialect.rewrite(
          "SELECT 'x RIGHT SEMI JOIN y' s FROM a RIGHT SEMI JOIN b ON a.k = b.k"),
        "SELECT 'x RIGHT SEMI JOIN y' s FROM b LEFT SEMI JOIN a ON a.k = b.k"),
      ("comma in a comment", () => SqlText.split("a, f -- g,h\n"),
        Seq("a", " f -- g,h\n")),
      ("double-quoted paren before the outer SELECT",
        () => ImpalaDialect.outerSelectOffset(
          "WITH x AS (SELECT \"(\" AS p) SELECT * FROM x"), 28),
      ("view text: spaces in a literal",
        () => ImpalaMeta.canonicalizeViewBody("select 'a  b' as s from t"),
        "select 'a  b' as s from t"),
      ("view text: function call in a literal",
        () => ImpalaMeta.canonicalizeViewBody("select 'ABC(' from t"),
        "select 'ABC(' from t"),
      ("view text: comma inside an ORDER BY call",
        () => ImpalaMeta.canonicalizeViewBody(
          "select a from t order by concat(a, b)"),
        "select a from t ORDER BY concat(a, b) ASC"))
    assertRows(rows)
  }

  test("one lexer: split, matching paren, outer SELECT and mask") {
    // each row pairs one scanner with one lexical case: a backslash-
    // escaped quote, a backtick identifier holding '(' and ',', a
    // comment holding a quote, '(' and ',', and a double-quoted "("
    val rows: Seq[(String, () => Any, Any)] = Seq(
      ("split: escaped quote", () => SqlText.split("'a\\',b', c"),
        Seq("'a\\',b'", " c")),
      ("split: comment", () => SqlText.split("f(x) -- it's (a, b\n, y"),
        Seq("f(x) -- it's (a, b\n", " y")),
      ("matching paren: backtick identifier",
        () => SqlText.matchingParen("f(`a(b,c` + 1) + 2", 1), 13),
      ("matching paren: comment",
        () => SqlText.matchingParen("f(x -- it's (a, b\n) + 2", 1), 18),
      ("outer SELECT: double-quoted paren",
        () => ImpalaDialect.outerSelectOffset(
          "WITH v AS (SELECT \"(\" c) SELECT c FROM v"), 25),
      ("outer SELECT: escaped quote",
        () => ImpalaDialect.outerSelectOffset(
          "WITH v AS (SELECT 'a\\'(' c) SELECT c FROM v"), 28),
      ("outer SELECT: comment",
        () => ImpalaDialect.outerSelectOffset("-- it's (a, b\nSELECT 1"), 14),
      ("mask: backtick identifier",
        () => SqlText.mask("SELECT `sort by (x, y` FROM t"),
        "SELECT `             ` FROM t"))
    assertRows(rows)
  }

  test("set-op branches with ORDER BY/LIMIT parenthesize; trailing binds to last operand") {
    GraftSession.registerAll(spark, sfDir)
    val r = ImpalaDialect.sql(spark,
      """select r_regionkey from region order by r_regionkey limit 2
         union all
         select r_regionkey from region order by r_regionkey desc limit 1""")
      .collect().map(_.getInt(0)).toSeq
    // IMPALA-4741 (sql-parser.cup): each ORDER BY/LIMIT binds to its own
    // bare select operand — 2 rows + 1 row; pinned by the reference's
    // union.test goldens
    assert(r.sorted == Seq(0, 1, 4), r)
    // ...but a parenthesized last operand leaves the trailing clauses
    // global (set_operation_with_order_by_or_limit)
    val g = ImpalaDialect.sql(spark,
      """select r_regionkey from region
         union all
         (select r_regionkey from region)
         order by r_regionkey limit 3""")
      .collect().map(_.getInt(0)).toSeq
    assert(g == Seq(0, 0, 1), g)
    // comment text containing set-op keywords is not a branch boundary
    val c = ImpalaDialect.sql(spark,
      "select count(*) n -- not a union of anything\nfrom region").head()
    assert(c.getLong(0) == 5)
  }

  test("Impala grammar Spark already accepts passes through") {
    GraftSession.registerAll(spark, sfDir)
    val r = ImpalaDialect.sql(spark,
      """SELECT r_regionkey DIV 2 AS h, count(*) AS n,
                group_concat(r_name, ';') AS gs
         FROM region
         WHERE r_name != 'nope' AND r_name ILIKE '%a%'
         GROUP BY 1 ORDER BY 1""").collect()
    assert(r.length == 3) // keys 0,1,2
  }
}
