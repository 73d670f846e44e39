package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Q.{dec2, u2, sumUnscaledDbl}

/** Nested-type dataflow (SURVEY.md §2.10: SubplanNode/UnnestNode over
  * ARRAY/MAP/STRUCT — `be/src/exec/subplan-node.h:42`,
  * `unnest-node.h:79`; complextypestbl fixture,
  * `functional_schema_template.sql:743-751`).
  *
  * The driver fixtures carry one real ARRAY column (embeddings) and a
  * JSON string (events.props); the deeper shapes — array<struct>, map,
  * array<array> — are *constructed* from relational data, then unnested
  * back with the oracle computing the same result from the flat tables:
  * a lossless construct→navigate→unnest roundtrip is exactly what the
  * reference's nested-type scans guarantee.
  */
object NestedQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- array<struct> roundtrip: per-order collect_list(struct) →
    // explode → re-aggregate (SubplanNode: per-row collection eval).
    Q.Def("q_nested_array_struct", (s, dir) => {
      val nested = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price")))).as("items"))
      nested
        .select(col("l_orderkey"), size(col("items")).as("n_items"),
          explode(col("items")).as("it"))
        .groupBy(col("l_orderkey"), col("n_items"))
        .agg(sumUnscaledDbl(u2(col("it.qty")), 2).as("sum_qty"),
          max(col("it.price")).as("max_price"),
          min(col("it.ln")).as("first_ln"))
        .orderBy(col("l_orderkey"))
    }, Some("""
      SELECT l_orderkey, CAST(COUNT(*) AS INT) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             MAX(l_extendedprice) AS max_price,
             MIN(l_linenumber) AS first_ln
      FROM lineitem
      WHERE l_orderkey < 2000
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""
    )),

    // ---- map construction + key/value navigation: linenumber→quantity
    // map per order; element_at + map_keys + aggregate over map_values.
    Q.Def("q_nested_map", (s, dir) => {
      // linenumbers repeat within an order in the fixture → pre-aggregate
      // so map keys are unique (maps reject duplicate keys, as in the
      // reference's MAP type)
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("m"))
        .select(col("l_orderkey"),
          size(col("m")).as("n_keys"),
          element_at(col("m"), 1).as("qty_line1"),
          aggregate(map_values(col("m")), lit(0.0d), (acc, v) => acc + v)
            .as("qty_total"))
        .orderBy(col("l_orderkey"))
    }, Some("""
      WITH per_ln AS (
        SELECT l_orderkey, l_linenumber,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_orderkey < 2000
        GROUP BY l_orderkey, l_linenumber)
      SELECT l_orderkey, CAST(COUNT(*) AS INT) AS n_keys,
             MAX(CASE WHEN l_linenumber = 1 THEN qty END) AS qty_line1,
             SUM(qty) AS qty_total
      FROM per_ln
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""
    )),

    // ---- array<array<float>>: chunk the embedding into 8-wide slices,
    // navigate a nested element, flatten back (UnnestNode recursion —
    // complextypestbl's array<array<int>>).
    Q.Def("q_nested_deep_array", (s, dir) => {
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(7)), i =>
            slice(col("embedding"), i * 8 + 1, lit(8))).as("chunks"))
        .select(col("vec_id"),
          size(col("chunks")).as("n_chunks"),
          round(element_at(element_at(col("chunks"), 2), 3).cast("double"), 5)
            .as("elem_1_2"),
          size(flatten(col("chunks"))).as("n_flat"))
        .orderBy(col("vec_id"))
    }, Some("""
      SELECT vec_id, 8 AS n_chunks,
             ROUND(CAST(embedding[11] AS DOUBLE), 5) AS elem_1_2,
             CAST(len(embedding) AS INT) AS n_flat
      FROM embeddings
      WHERE vec_id < 100
      ORDER BY vec_id"""
    )),

    // ---- JSON → STRUCT navigation (from_json + dotted field access;
    // the schema-on-read half of the reference's complex-type scans).
    Q.Def("q_nested_json_struct", (s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 3000)
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .as("p"))
        .select(col("event_id"), col("p.k").as("k"),
          (col("p.k") % 10).as("k_mod"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k,
             CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod
      FROM events
      WHERE event_id < 3000
      ORDER BY event_id"""
    )),

    // ---- collection predicates: exists/forall/filter over an array
    // (the per-collection conjunct evaluation SubplanNode does).
    Q.Def("q_nested_array_pred", (s, dir) => {
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 500)
        .select(col("vec_id"),
          exists(col("embedding"), v => v > 2.5f).as("has_big"),
          forall(col("embedding"), v => v > -4.0f).as("all_gt"),
          size(filter(col("embedding"), v => v > 0f)).as("n_pos"))
        .groupBy(col("has_big"), col("all_gt"))
        .agg(count(lit(1)).as("n"), sum(col("n_pos")).as("total_pos"))
        .orderBy(col("has_big"), col("all_gt"))
    }, Some("""
      WITH per_vec AS (
        SELECT vec_id,
               len(list_filter(embedding, v -> v > 2.5)) > 0 AS has_big,
               len(list_filter(embedding, v -> NOT (v > -4.0))) = 0 AS all_gt,
               CAST(len(list_filter(embedding, v -> v > 0)) AS INT) AS n_pos
        FROM embeddings WHERE vec_id < 500)
      SELECT has_big, all_gt, COUNT(*) AS n,
             CAST(SUM(n_pos) AS BIGINT) AS total_pos
      FROM per_vec
      GROUP BY has_big, all_gt
      ORDER BY has_big, all_gt"""
    )),
  )
}
