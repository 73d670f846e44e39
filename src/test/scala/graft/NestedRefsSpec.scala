package graft

import org.apache.spark.sql.Row

/** Impala nested-collection table refs (NestedRefs) — each case's
  * expected rows come straight from the reference's
  * `nested-types-scanner-*.test` goldens over `complextypestbl`'s 8
  * rows, which `FunctionalTables.registerComplexTypesTbl` builds in the
  * repo from upstream Impala's `ComplexTypesTbl/nullable.json` (ids
  * 1-7) and `nonnullable.json` (id 8). The last test checks those rows
  * against the reference's parquet copies wherever they exist.
  */
class NestedRefsSpec extends SparkSpecBase {

  private def rows(sql: String): Set[Seq[Any]] = {
    sql1(sql).collect().toSet.map((r: Row) => r.toSeq)
  }

  private def sql1(sql: String) = {
    sources.FunctionalTables.register(spark)
    ImpalaDialect.sql(spark, sql)
  }

  test("absolute array ref: item + count") {
    val r = rows("select item from complextypestbl.int_array")
    assert(r.size <= 10)
    val all = sql1(
      "select count(*), count(item) from complextypestbl.int_array").head()
    assert(all.getLong(0) == 10 && all.getLong(1) == 7)
  }

  test("relative array ref with pos (scanner-position golden)") {
    val got = sql1(
      "select id, pos, item from complextypestbl t, t.int_array")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2))).toSeq
    val want = Seq((1L, 0L, 1), (1L, 1L, 2), (1L, 2L, 3),
      (2L, 0L, null), (2L, 1L, 1), (2L, 2L, 2), (2L, 3L, null),
      (2L, 4L, 3), (2L, 5L, null), (8L, 0L, -1))
    assert(got.sortBy(t => (t._1, t._2)) ==
      want.sortBy(t => (t._1, t._2)).asInstanceOf[Seq[(Long, Long, Any)]])
  }

  test("multi-step path t.int_array_array.item explodes both levels") {
    val n = sql1(
      "select count(*) from complextypestbl t, t.int_array_array.item")
      .head().getLong(0)
    assert(n == 15)
  }

  test("map ref exposes key/value; chained map-value path") {
    val kv = rows("select key, value from complextypestbl.int_map")
    assert(kv.contains(Seq("k1", 1)))
    val chained = sql1(
      "select key, item from complextypestbl.nested_struct.g, g.value.h.i")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
      .sortBy(t => (t._1, String.valueOf(t._2)))
    assert(chained == Seq(("foo", 1.1), ("foo", 2.2), ("foo", 3.3),
      ("g1", 2.2), ("g1", null)).asInstanceOf[Seq[(String, Any)]]
        .sortBy(t => (t._1, String.valueOf(t._2))))
  }

  test("array-of-struct exposes fields, item.field and alias.pos") {
    // golden: nested-types-scanner-position.test (d.pos / i.pos block)
    val got = sql1(
      "select id, d.pos, i.pos " +
        "from complextypestbl t, t.nested_struct.c.d, d.item i")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    val want = Seq((1L, 0L, 0L), (1L, 0L, 1L), (1L, 1L, 0L), (2L, 0L, 0L),
      (2L, 0L, 1L), (2L, 0L, 2L), (2L, 0L, 3L), (2L, 0L, 4L), (2L, 1L, 0L),
      (2L, 1L, 1L), (7L, 1L, 0L), (8L, 0L, 0L)).sorted
    assert(got == want)
    // golden: nested-types-scanner-basic.test inner_array block
    val es = sql1(
      "select count(inner_array.item.e) " +
        "from complextypestbl.nested_struct.c.d.item inner_array")
      .head().getLong(0)
    assert(es == 7)
  }

  test("bare struct-element field names resolve (Impala column exposure)") {
    val n = sql1(
      "select count(*) from complextypestbl.nested_struct.c.d.item " +
        "inner_array where inner_array.item.f = 'bbb'").head().getLong(0)
    assert(n == 2)
    val bare = sql1(
      "select e, f from complextypestbl t, t.nested_struct.c.d.item " +
        "where e = 10").count()
    assert(bare == 2)
  }

  test("plain dotted column refs in SELECT stay untouched") {
    val r = sql1(
      "select nested_struct.a from complextypestbl where id = 1").head()
    assert(r.getInt(0) == 1)
  }

  test("subquery FROM clauses are rewritten too") {
    val n = sql1(
      "select count(*) from (select item from complextypestbl.int_array) v")
      .head().getLong(0)
    assert(n == 10)
  }

  test("left outer join on a collection with ON condition (tpch_nested-q13 shape)") {
    val got = sql1(
      "select id, count(item) as c from complextypestbl t " +
        "left outer join t.int_array on (item > 1) group by id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every row survives; only items matching the ON condition count
    assert(got(1L) == 2 && got(2L) == 2 && got(8L) == 0)
    assert(got.size == 8 && got.values.sum == 4)
  }

  test("correlated FROM-agg subquery becomes HOF lateral (tpch_nested-q18 shape)") {
    val got = sql1(
      "select id, v.s, v.c from complextypestbl t, " +
        "(select sum(item) s, count(*) c from t.int_array) v where id <= 3")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1), r.getLong(2))).toSet
    // id=1 [1,2,3]; id=2 [null,1,2,null,3,null] (count(*) counts NULL
    // items); id=3 [] → agg subquery still yields one row, NULL sum
    assert(got == Set((1L, 6L, 3L), (2L, 6L, 6L), (3L, null, 0L))
      .asInstanceOf[Set[(Long, Any, Long)]])
  }

  test("star over table + FROM-subquery keeps the subquery's columns") {
    // scope sees only `t` (the subquery's columns never register), so
    // `*` must NOT expand to t's scalar columns alone — v.c would be
    // silently dropped from the result (r9 advice, wrong-results bug)
    val df = sql1(
      "select * from complextypestbl t, " +
        "(select count(*) over () c from complextypestbl) v limit 1")
    assert(df.columns.map(_.toLowerCase).contains("c"))
  }

  test("star over a multi-table scope expands per alias, skipping complex columns") {
    val df = sql1(
      "select * from complextypestbl t1 join complextypestbl t2 on t1.id = t2.id " +
        "where t1.id = 1")
    val cols = df.columns.map(_.toLowerCase)
    // both sides' scalar id survive; complex columns never expand from *
    assert(cols.count(_ == "id") == 2)
    assert(!cols.contains("int_array") && !cols.contains("nested_struct"))
  }

  test("distinct struct paths never collide in generated flatten names") {
    // pure-function check on the length-prefixed encoding
    val m = NestedRefs.getClass.getDeclaredMethods
      .find(_.getName == "flattenGenName").get
    m.setAccessible(true)
    def gen(p: Seq[String]) =
      m.invoke(NestedRefs, p).asInstanceOf[String]
    assert(gen(Seq("a_b", "c")) != gen(Seq("a", "b_c")))
  }

  test("correlated EXISTS/NOT EXISTS over a collection become HOFs (q4/q22 shapes)") {
    val ex = sql1(
      "select id from complextypestbl t where " +
        "exists (select * from t.int_array where item > 2)")
      .collect().map(_.getLong(0)).toSet
    assert(ex == Set(1L, 2L))
    val notEx = sql1(
      "select count(*) from complextypestbl t where " +
        "not exists (select item from t.int_array)").head().getLong(0)
    // empty (id=3) and NULL (ids 4-7) collections both qualify
    assert(notEx == 5)
  }

  test("in-repo complextypestbl rows equal the reference's parquet files") {
    import java.nio.file.Files
    val dir = java.nio.file.Paths.get("/root/reference/testdata/ComplexTypesTbl")
    val files =
      Seq("nullable.parq", "nonnullable.parq").map(f => dir.resolve(f))
    files.foreach(f => assume(Files.isRegularFile(f), s"$f not present"))
    // the two files spell column and nested-field names in different
    // case; take each top-level column case-insensitively and cast it to
    // the canonical type (a struct cast renames fields by position)
    val canonical = sources.FunctionalTables.complexTypesSchema
    def load(f: java.nio.file.Path) = {
      val df = spark.read.parquet(f.toString)
      df.select(canonical.fields.toSeq.map { c =>
        val src = df.columns.find(_.equalsIgnoreCase(c.name))
          .getOrElse(fail(s"$f has no column ${c.name}"))
        org.apache.spark.sql.functions.col(s"`$src`")
          .cast(c.dataType).as(c.name)
      }: _*)
    }
    def byId(rs: Array[Row]) = rs.map(r => r.getLong(0) -> r).toMap
    val want = byId(files.map(load).reduce(_ unionByName _).collect())
    sources.FunctionalTables.register(spark)
    val got = byId(spark.table("complextypestbl").collect())
    assert(got.keySet == want.keySet)
    val diff = want.keys.toSeq.sorted.filter(id => got(id) != want(id))
    assert(diff.isEmpty, diff.map(id =>
      s"id $id: repo ${got(id)} != reference ${want(id)}").mkString("\n"))
  }
}
