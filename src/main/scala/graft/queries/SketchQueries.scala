package graft.queries

import org.apache.spark.sql.functions._

/** Queries exercising the custom Catalyst function layer
  * (graft.functions.*): string distances, bit manipulation, Impala-compat
  * hashes, and the HLL/KLL sketch family (SURVEY.md §2.4/§2.8 gaps).
  *
  * Distances and bit ops are oracle-checked (DuckDB ships
  * damerau_levenshtein / jaro* / bit_count and the bit ops are plain
  * arithmetic); hash and sketch outputs have no DuckDB equivalent, so
  * they get rows-only checks here and exact-value specs in
  * src/test/scala/graft/FunctionsSpec.scala.
  */
object SketchQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- string-distance functions vs DuckDB's implementations
    // (string-functions-ir.cc jaro/damerau family).
    Q.Def("q_fn_strdist", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_partkey") < 200)
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .withColumn("dl", call_function("damerau_levenshtein", col("p_name"), col("p_type")))
        .withColumn("jaro", round(call_function("jaro_similarity", col("p_name"), col("p_type")), 6))
        .withColumn("jw", round(call_function("jaro_winkler_similarity", col("p_name"), col("p_type")), 6))
        .withColumn("lev", levenshtein(col("p_name"), col("p_type")))
        .orderBy(col("p_partkey"))
    }, Some("""
      SELECT p_partkey, p_name, p_type,
             damerau_levenshtein(p_name, p_type) AS dl,
             ROUND(jaro_similarity(p_name, p_type), 6) AS jaro,
             ROUND(jaro_winkler_similarity(p_name, p_type), 6) AS jw,
             levenshtein(p_name, p_type) AS lev
      FROM part
      WHERE p_partkey < 200
      ORDER BY p_partkey"""
    )),

    // ---- bit-manipulation functions vs arithmetic oracle
    // (bit-byte-functions-ir.cc rotate/getbit/setbit/countset).
    Q.Def("q_fn_bits", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"))
        // small keys → no wraparound, so the oracle is plain arithmetic;
        // wrap semantics are exact-value-tested in FunctionsSpec.
        .withColumn("rl", call_function("rotateleft", col("o_orderkey"), lit(7)))
        .withColumn("rr", call_function("rotateright", col("o_orderkey"), lit(61)))
        .withColumn("gb", call_function("getbit", col("o_orderkey"), lit(4)).cast("int"))
        .withColumn("sb", call_function("setbit", col("o_orderkey"), lit(2), lit(1)))
        .withColumn("cs", call_function("countset", col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey,
             CAST(o_orderkey * 128 AS BIGINT) AS rl,
             CAST(o_orderkey * 8 AS BIGINT) AS rr,
             CAST((o_orderkey >> 4) & 1 AS INT) AS gb,
             CAST(o_orderkey | 4 AS BIGINT) AS sb,
             CAST(bit_count(o_orderkey) AS INT) AS cs
      FROM orders
      WHERE o_orderkey < 500
      ORDER BY o_orderkey"""
    )),

    // ---- Impala-compat hashes: deterministic grouping key derivation
    // (utility-functions-ir.cc fnv_hash/murmur_hash); exact vectors in
    // FunctionsSpec. Oracle gates the scale-relevant invariants: all 16
    // shards populated, every row lands in exactly one shard, and the
    // FNV spread keeps the hottest shard under 2× the mean.
    Q.Def("q_fn_hash_shard", (s, dir) => {
      val shards = t(s, dir, "customer")
        .withColumn("shard", pmod(call_function("fnv_hash", col("c_name")), lit(16)))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
      shards.agg(
        count(lit(1)).cast("int").as("n_shards"),
        sum(col("n")).cast("long").as("total_rows"),
        (max(col("n")) <= (sum(col("n")) / 16) * 2).as("balanced"))
    }, Some("""
      SELECT 16 AS n_shards,
             (SELECT COUNT(*) FROM customer) AS total_rows,
             TRUE AS balanced"""
    )),

    // ---- ndv + HLL sketch family (aggregate-functions-ir.cc Hll*,
    // datasketches-functions-ir.cc): per-nation sketches unioned to a
    // global estimate — the two-level rollup pattern that makes HLL
    // useful at 100 TB (partial sketch per partition, tiny shuffle).
    // Oracle: exact distinct total (DuckDB recomputes) + 10%% error
    // bounds on both estimate paths (HLL p=10 → rsd ≈ 3.2%%; the seeded
    // sketch is deterministic, so the booleans cannot drift).
    Q.Def("q_sketch_hll", (s, dir) => {
      val perNation = t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          call_function("ndv_hll", col("c_custkey")).as("ndv_cust"),
          call_function("ds_hll_sketch", col("c_custkey")).as("sk"),
          countDistinct(col("c_custkey")).as("exact"))
      perNation.agg(
          sum(col("exact")).as("exact_total"),
          sum(col("ndv_cust")).as("__ndv_sum"),
          call_function("ds_hll_estimate",
            call_function("ds_hll_union", col("sk"))).as("__ndv_union"))
        .select(col("exact_total"),
          (abs(col("__ndv_sum") - col("exact_total")) <=
            col("exact_total") * 0.1).as("hll_sum_ok"),
          (abs(col("__ndv_union") - col("exact_total")) <=
            col("exact_total") * 0.1).as("hll_union_ok"))
    }, Some("""
      SELECT COUNT(DISTINCT c_custkey) AS exact_total,
             TRUE AS hll_sum_ok, TRUE AS hll_union_ok
      FROM customer"""
    )),

    // ---- KLL quantile family (BuiltinsDb.java:1056-77). Oracle: exact
    // n and exact interpolated quantiles (DuckDB QUANTILE_CONT = Spark
    // percentile, same p·(n-1) interpolation) + sketch rank-error bounds
    // (|rank(q̂_p) − p| ≤ 0.1, vs the ~10%% compaction error asserted in
    // PropertySpec; deterministic buffer → stable booleans).
    Q.Def("q_sketch_kll", (s, dir) => {
      val agg = t(s, dir, "lineitem").agg(
        call_function("ds_kll_sketch",
          col("l_quantity").cast("float")).as("sk"),
        count(col("l_quantity")).as("n"),
        expr("percentile(l_quantity, 0.5D)").as("ex50"),
        expr("percentile(l_quantity, 0.95D)").as("ex95"))
      agg.select(col("n"),
        round(col("ex50"), 2).as("p50_exact"),
        round(col("ex95"), 2).as("p95_exact"),
        // ds_kll_rank's value param is FLOAT with no implicit DOUBLE
        // path (Impala's strict resolution, DsResolve) — cast down
        (abs(call_function("ds_kll_rank", col("sk"),
          col("ex50").cast("float")) - 0.5) <= 0.1)
          .as("rank50_ok"),
        (abs(call_function("ds_kll_rank", col("sk"),
          col("ex95").cast("float")) - 0.95) <= 0.1)
          .as("rank95_ok"))
    }, Some("""
      SELECT COUNT(l_quantity) AS n,
             ROUND(QUANTILE_CONT(l_quantity, 0.5), 2) AS p50_exact,
             ROUND(QUANTILE_CONT(l_quantity, 0.95), 2) AS p95_exact,
             TRUE AS rank50_ok, TRUE AS rank95_ok
      FROM lineitem"""
    )),

    // ---- histogram over a numeric column (aggregate-functions-ir.cc
    // ReservoirSample→HistogramFinalize, semantics pinned verbatim by
    // the reference's aggregation.test goldens):
    // sorted samples, min(n,100) buckets at index (b+1)·max(n/100,1)−1,
    // DECIMAL input printed as the raw unscaled value (PrintSample
    // <DecimalVal>). Groups are far below the 20 000-sample reservoir,
    // so both engines are exact; DuckDB replicates the bucket formula
    // over the same unscaled-bigint list.
    Q.Def("q_sketch_histogram", (s, dir) => {
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(call_function("histogram",
          col("s_acctbal").cast("decimal(12,2)")).as("hist"))
        .filter(length(col("hist")) > 0)
        .orderBy(col("s_nationkey"))
    }, Some("""
      WITH g AS (
        SELECT s_nationkey,
               LIST(CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                    ORDER BY CAST(s_acctbal AS DECIMAL(12,2))) AS l,
               COUNT(*) AS n
        FROM supplier GROUP BY s_nationkey)
      SELECT s_nationkey,
        ARRAY_TO_STRING(LIST_TRANSFORM(
          RANGE(1, CAST(LEAST(n, 100) + 1 AS BIGINT)), i ->
            CAST(l[CAST(i * GREATEST(n // 100, 1) AS BIGINT)] AS VARCHAR)),
          ', ') AS hist
      FROM g
      ORDER BY s_nationkey"""
    )),

    // ---- Impala-dialect SQL through the shim (ImpalaDialect.sql):
    // plain ORDER BY must sort NULLS LAST ascending (the Impala default,
    // opposite of Spark's) — oracle spells it explicitly.
    Q.Def("q_impala_dialect", (s, dir) => {
      graft.GraftSession.registerAll(s, dir)
      graft.ImpalaDialect.sql(s, """
        SELECT s_suppkey, nullif(s_nationkey, 7) AS nk,
               strleft(s_name, 12) AS sn,
               CAST('2024-02-29 13:45:59' AS TIMESTAMP
                 FORMAT 'YYYY-MM-DD HH24:MI:SS') AS ts_fmt
        FROM supplier
        ORDER BY nk, s_suppkey""")
        .withColumn("ts_fmt", date_format(col("ts_fmt"), "yyyy-MM-dd HH:mm:ss"))
    }, Some("""
      SELECT s_suppkey, nullif(s_nationkey, 7) AS nk,
             LEFT(s_name, 12) AS sn,
             '2024-02-29 13:45:59' AS ts_fmt
      FROM supplier
      ORDER BY nk ASC NULLS LAST, s_suppkey ASC NULLS LAST"""
    )),

    // ---- Impala join hints through the dialect shim: STRAIGHT_JOIN +
    // bracket BROADCAST + comment SHUFFLE all lift to Spark hints
    // (PlanHint.java / DistributedPlanner.java); result must equal the
    // unhinted join.
    Q.Def("q_impala_hints", (s, dir) => {
      graft.GraftSession.registerAll(s, dir)
      graft.ImpalaDialect.sql(s, """
        SELECT STRAIGHT_JOIN r.r_name,
               count(DISTINCT n.n_nationkey) AS n_nations,
               count(*) AS n_customers
        FROM nation n
        JOIN [BROADCAST] region r ON n.n_regionkey = r.r_regionkey
        JOIN /* +SHUFFLE */ customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY r.r_name
        ORDER BY r.r_name""")
    }, Some("""
      SELECT r_name, count(DISTINCT n_nationkey) AS n_nations,
             count(*) AS n_customers
      FROM nation
      JOIN region ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      GROUP BY r_name
      ORDER BY r_name"""
    )),

    // ---- ordered group_concat (BuiltinsDb.java:1277-1288 StringConcat;
    // Impala's is input-order-dependent → deterministic sorted variant,
    // oracle-checked vs DuckDB string_agg ORDER BY).
    Q.Def("q_fn_group_concat", (s, dir) => {
      t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("r_name"))
    }, Some("""
      SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
      FROM nation, region
      WHERE n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name"""
    )),
  )
}
