package graft.queries

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scalar builtin surface (SURVEY.md §2.8; reference registry
  * `common/function-registry/impala_functions.py` — 218 names, impls in
  * `be/src/exprs/math-functions-ir.cc`, `string-functions-ir.cc`,
  * `timestamp-functions-ir.cc`, `conditional-functions.h`,
  * `bit-byte-functions-ir.cc`, `utility-functions-ir.cc`).
  *
  * One oracle-checked query per family. Transcendentals are rounded to 6
  * digits (libm implementations differ in the last ulp across engines);
  * everything else compares exactly.
  */
object FunctionQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- math (math-functions-ir.cc:798 LoC).
    Q.Def("q_fn_math", (s, dir) => {
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("abs_v"),
          ceil(col("l_extendedprice") / 1000).as("ceil_v"),
          floor(col("l_extendedprice") / 1000).as("floor_v"),
          round(col("l_extendedprice") / 7, 3).as("round_v"),
          signum(col("l_quantity") - 25).as("sign_v"),
          pmod(col("l_orderkey"), lit(7)).as("pmod_v"),
          (col("l_orderkey") % 7).as("mod_v"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("greatest_v"),
          least(col("l_quantity"), col("l_discount") * 100).as("least_v"),
          round(exp(col("l_discount")), 6).as("exp_v"),
          round(log(col("l_extendedprice")), 6).as("ln_v"),
          round(log10(col("l_extendedprice")), 6).as("log10_v"),
          round(log2(col("l_quantity")), 6).as("log2_v"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_v"),
          round(pow(col("l_quantity"), lit(2)), 4).as("pow_v"),
          round(sin(col("l_discount")), 6).as("sin_v"),
          round(cos(col("l_discount")), 6).as("cos_v"),
          round(atan2(col("l_quantity"), col("l_extendedprice")), 6).as("atan2_v"),
          round(degrees(col("l_discount")), 6).as("degrees_v"),
          round(radians(col("l_quantity")), 6).as("radians_v"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        ABS(l_quantity - 25) AS abs_v,
        CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS ceil_v,
        CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS floor_v,
        ROUND(l_extendedprice / 7, 3) AS round_v,
        CAST(SIGN(l_quantity - 25) AS DOUBLE) AS sign_v,
        CAST(((l_orderkey % 7) + 7) % 7 AS BIGINT) AS pmod_v,
        CAST(l_orderkey % 7 AS BIGINT) AS mod_v,
        GREATEST(l_quantity, l_discount * 100) AS greatest_v,
        LEAST(l_quantity, l_discount * 100) AS least_v,
        ROUND(EXP(l_discount), 6) AS exp_v,
        ROUND(LN(l_extendedprice), 6) AS ln_v,
        ROUND(LOG10(l_extendedprice), 6) AS log10_v,
        ROUND(LOG2(l_quantity), 6) AS log2_v,
        ROUND(SQRT(l_extendedprice), 6) AS sqrt_v,
        ROUND(POW(l_quantity, 2), 4) AS pow_v,
        ROUND(SIN(l_discount), 6) AS sin_v,
        ROUND(COS(l_discount), 6) AS cos_v,
        ROUND(ATAN2(l_quantity, l_extendedprice), 6) AS atan2_v,
        ROUND(DEGREES(l_discount), 6) AS degrees_v,
        ROUND(RADIANS(l_quantity), 6) AS radians_v
      FROM lineitem WHERE l_orderkey <= 100
      ORDER BY l_orderkey, l_linenumber"""
    )),

    // ---- string (string-functions-ir.cc:1542 LoC).
    Q.Def("q_fn_string", (s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          length(col("c_name")).as("len_v"),
          lower(col("c_name")).as("lower_v"),
          upper(col("c_mktsegment")).as("upper_v"),
          concat(col("c_mktsegment"), lit("-"), col("c_name")).as("concat_v"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("concat_ws_v"),
          substring(col("c_name"), 4, 6).as("substr_v"),
          expr("left(c_name, 5)").as("left_v"),
          expr("right(c_name, 4)").as("right_v"),
          lpad(col("c_mktsegment"), 12, "*").as("lpad_v"),
          rpad(col("c_mktsegment"), 12, "#").as("rpad_v"),
          trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("trim_v"),
          ltrim(concat(lit("  "), col("c_mktsegment"))).as("ltrim_v"),
          rtrim(concat(col("c_mktsegment"), lit("  "))).as("rtrim_v"),
          reverse(col("c_mktsegment")).as("reverse_v"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("translate_v"),
          regexp_replace(col("c_name"), "[0-9]", "").as("strip_digits"),
          ascii(col("c_mktsegment")).as("ascii_v"),
          chr(pmod(col("c_custkey"), lit(26)) + 65).as("chr_v"),
          instr(col("c_name"), "er").as("instr_v"),
          repeat(expr("left(c_mktsegment, 2)"), 3).as("repeat_v"),
          split_part(col("c_name"), lit("#"), lit(1)).as("split1_v"),
          split_part(col("c_name"), lit("#"), lit(2)).as("split2_v"),
          levenshtein(col("c_mktsegment"), lit("MACHINERY")).as("lev_v"),
          col("c_name").contains("12").cast("int").as("contains_v"),
          col("c_name").startsWith("Customer").cast("int").as("starts_v"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey,
        LENGTH(c_name) AS len_v,
        LOWER(c_name) AS lower_v,
        UPPER(c_mktsegment) AS upper_v,
        c_mktsegment || '-' || c_name AS concat_v,
        c_mktsegment || '|' || c_name AS concat_ws_v,
        SUBSTR(c_name, 4, 6) AS substr_v,
        LEFT(c_name, 5) AS left_v,
        RIGHT(c_name, 4) AS right_v,
        LPAD(c_mktsegment, 12, '*') AS lpad_v,
        RPAD(c_mktsegment, 12, '#') AS rpad_v,
        TRIM('  ' || c_mktsegment || '  ') AS trim_v,
        LTRIM('  ' || c_mktsegment) AS ltrim_v,
        RTRIM(c_mktsegment || '  ') AS rtrim_v,
        REVERSE(c_mktsegment) AS reverse_v,
        TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS translate_v,
        REGEXP_REPLACE(c_name, '[0-9]', '', 'g') AS strip_digits,
        ASCII(c_mktsegment) AS ascii_v,
        CHR(CAST(c_custkey % 26 AS INTEGER) + 65) AS chr_v,
        INSTR(c_name, 'er') AS instr_v,
        REPEAT(LEFT(c_mktsegment, 2), 3) AS repeat_v,
        SPLIT_PART(c_name, '#', 1) AS split1_v,
        SPLIT_PART(c_name, '#', 2) AS split2_v,
        LEVENSHTEIN(c_mktsegment, 'MACHINERY') AS lev_v,
        CAST(CONTAINS(c_name, '12') AS INTEGER) AS contains_v,
        CAST(STARTS_WITH(c_name, 'Customer') AS INTEGER) AS starts_v
      FROM customer WHERE c_custkey <= 200
      ORDER BY c_custkey"""
    )),

    // ---- date / timestamp (timestamp-functions-ir.cc:948,
    // date-functions-ir.cc:330). dayofweek: Spark is 1=Sunday, DuckDB is
    // 0=Sunday — oracle adds 1.
    Q.Def("q_fn_date", (s, dir) => {
      t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("year_v"),
          quarter(col("o_orderdate")).as("quarter_v"),
          month(col("o_orderdate")).as("month_v"),
          dayofmonth(col("o_orderdate")).as("day_v"),
          dayofweek(col("o_orderdate")).as("dow_v"),
          dayofyear(col("o_orderdate")).as("doy_v"),
          weekofyear(col("o_orderdate")).as("week_v"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("trunc_month"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
            .as("trunc_quarter"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
            .as("plus30"),
          date_format(add_months(col("o_orderdate").cast("date"), 3), "yyyy-MM-dd")
            .as("plus3mo"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("last_day_v"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .as("days_to_2002"),
          unix_timestamp(col("o_orderdate")).as("epoch_v"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("fmt_v"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey,
        CAST(YEAR(o_orderdate) AS INTEGER) AS year_v,
        CAST(QUARTER(o_orderdate) AS INTEGER) AS quarter_v,
        CAST(MONTH(o_orderdate) AS INTEGER) AS month_v,
        CAST(DAY(o_orderdate) AS INTEGER) AS day_v,
        CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS dow_v,
        CAST(DAYOFYEAR(o_orderdate) AS INTEGER) AS doy_v,
        CAST(WEEKOFYEAR(o_orderdate) AS INTEGER) AS week_v,
        STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS trunc_month,
        STRFTIME(DATE_TRUNC('quarter', o_orderdate), '%Y-%m-%d') AS trunc_quarter,
        STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
        STRFTIME(LAST_DAY(o_orderdate), '%Y-%m-%d') AS last_day_v,
        CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        EPOCH(o_orderdate)::BIGINT AS epoch_v,
        STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fmt_v
      FROM orders WHERE o_orderkey <= 500
      ORDER BY o_orderkey"""
    )),

    // ---- conditional (conditional-functions.h, case-expr.h) — includes
    // the Impala alias layer (nvl/isnull/nvl2/zeroifnull/nullifzero)
    // registered by graft.functions.Aliases, exercised through SQL.
    Q.Def("q_fn_cond", (s, dir) => {
      GraftSession.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey,
          CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
               ELSE 'other' END AS status_word,
          CASE WHEN o_totalprice > 300000 THEN 'big'
               WHEN o_totalprice > 100000 THEN 'mid'
               ELSE 'small' END AS size_word,
          if(o_totalprice > 200000, 1, 0) AS if_v,
          coalesce(nullif(o_orderstatus, 'P'), 'pending') AS nullif_v,
          nvl(nullif(o_orderstatus, 'P'), 'NA') AS nvl_v,
          nvl2(nullif(o_orderstatus, 'P'), 'has', 'none') AS nvl2_v,
          zeroifnull(nullif(o_custkey, 7)) AS zin_v,
          nullifzero(o_custkey % 3) AS niz_v,
          isnull(nullif(o_orderstatus, 'F'), '?') AS isnull_v
        FROM orders WHERE o_orderkey <= 300
        ORDER BY o_orderkey""")
    }, Some("""
      SELECT o_orderkey,
        CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
             ELSE 'other' END AS status_word,
        CASE WHEN o_totalprice > 300000 THEN 'big'
             WHEN o_totalprice > 100000 THEN 'mid'
             ELSE 'small' END AS size_word,
        CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS if_v,
        COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS nullif_v,
        COALESCE(NULLIF(o_orderstatus, 'P'), 'NA') AS nvl_v,
        CASE WHEN NULLIF(o_orderstatus, 'P') IS NOT NULL THEN 'has' ELSE 'none' END AS nvl2_v,
        COALESCE(NULLIF(o_custkey, 7), 0) AS zin_v,
        NULLIF(o_custkey % 3, 0) AS niz_v,
        COALESCE(NULLIF(o_orderstatus, 'F'), '?') AS isnull_v
      FROM orders WHERE o_orderkey <= 300
      ORDER BY o_orderkey"""
    )),

    // ---- bit/byte (bit-byte-functions-ir.cc). DuckDB: ^ is power, xor()
    // is the function; bit_count matches Spark's.
    Q.Def("q_fn_bit", (s, dir) => {
      t(s, dir, "lineitem").filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").bitwiseAND(col("l_partkey")).as("and_v"),
          col("l_orderkey").bitwiseOR(col("l_partkey")).as("or_v"),
          col("l_orderkey").bitwiseXOR(col("l_partkey")).as("xor_v"),
          bitwise_not(col("l_orderkey")).as("not_v"),
          shiftleft(col("l_linenumber"), 3).as("shl_v"),
          shiftright(col("l_partkey"), 2).as("shr_v"),
          bit_count(col("l_orderkey")).as("popcnt_v"),
          expr("getbit(l_orderkey, 3)").as("getbit_v"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        l_orderkey & l_partkey AS and_v,
        l_orderkey | l_partkey AS or_v,
        XOR(l_orderkey, l_partkey) AS xor_v,
        ~l_orderkey AS not_v,
        CAST(l_linenumber << 3 AS INTEGER) AS shl_v,
        l_partkey >> 2 AS shr_v,
        CAST(BIT_COUNT(l_orderkey) AS INTEGER) AS popcnt_v,
        CAST((l_orderkey >> 3) & 1 AS TINYINT) AS getbit_v
      FROM lineitem WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber"""
    )),

    // ---- regex via RE2 in the reference (like-predicate.h:38,80) and in
    // Spark (java.util.regex) / DuckDB (RE2): stick to portable syntax.
    Q.Def("q_fn_regex", (s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          regexp_extract(col("text"), "\\b(join|scan|filter)\\b", 1).as("first_op"),
          regexp_replace(col("text"), "\\s+", "_").substr(1, 40).as("snake40"),
          col("text").rlike("stream").cast("int").as("has_stream"),
          size(expr("regexp_extract_all(text, '\\\\bdata\\\\b', 0)")).as("n_data"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        REGEXP_EXTRACT(text, '\b(join|scan|filter)\b', 1) AS first_op,
        SUBSTR(REGEXP_REPLACE(text, '\s+', '_', 'g'), 1, 40) AS snake40,
        CAST(REGEXP_MATCHES(text, 'stream') AS INTEGER) AS has_stream,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\bdata\b', 0)) AS INTEGER) AS n_data
      FROM documents WHERE doc_id <= 200
      ORDER BY doc_id"""
    )),

    // ---- JSON (get_json_object, string-functions-ir.cc:1225).
    Q.Def("q_fn_json", (s, dir) => {
      t(s, dir, "events").filter(col("event_id") <= 500)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"),
          get_json_object(col("props"), "$.missing").as("k_missing"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id,
        JSON_EXTRACT_STRING(props, '$.k') AS k_str,
        CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_int,
        JSON_EXTRACT_STRING(props, '$.missing') AS k_missing
      FROM events WHERE event_id <= 500
      ORDER BY event_id"""
    )),

    // ---- cast semantics (cast-functions-ir.cc). double→int: Spark
    // truncates toward zero; DuckDB rounds — oracle uses TRUNC for parity
    // with Impala/Spark semantics.
    Q.Def("q_fn_cast", (s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          col("c_acctbal").cast("int").as("bal_int"),
          col("c_acctbal").cast("bigint").as("bal_big"),
          col("c_custkey").cast("string").as("key_str"),
          col("c_custkey").cast("double").as("key_dbl"),
          concat(lit(""), col("c_custkey") * 2).as("str_concat_int"),
          (col("c_nationkey").cast("smallint") + lit(1).cast("smallint"))
            .as("small_plus"),
          col("c_acctbal").cast("decimal(12,2)").cast("string").as("bal_dec_str"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey,
        CAST(TRUNC(c_acctbal) AS INTEGER) AS bal_int,
        CAST(TRUNC(c_acctbal) AS BIGINT) AS bal_big,
        CAST(c_custkey AS VARCHAR) AS key_str,
        CAST(c_custkey AS DOUBLE) AS key_dbl,
        CAST(c_custkey * 2 AS VARCHAR) AS str_concat_int,
        CAST(c_nationkey + 1 AS SMALLINT) AS small_plus,
        CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS bal_dec_str
      FROM customer WHERE c_custkey <= 300
      ORDER BY c_custkey"""
    )),

    // ---- hash/digest + encoding (utility-functions-ir.cc; Spark-side
    // md5/sha2/base64 are standard algorithms so DuckDB agrees).
    Q.Def("q_fn_digest", (s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5_v"),
          sha2(col("text").cast("binary"), 256).as("sha256_v"),
          base64(expr("left(text, 12)").cast("binary")).as("b64_v"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        MD5(text) AS md5_v,
        SHA256(text) AS sha256_v,
        TO_BASE64(CAST(LEFT(text, 12) AS BLOB)) AS b64_v
      FROM documents WHERE doc_id <= 200
      ORDER BY doc_id"""
    )),

    // ---- mask family (mask-functions-ir.cc:735; Spark 4 builtin mask).
    Q.Def("q_fn_mask", (s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          expr("mask(c_name)").as("mask_all"),
          expr("mask(c_name, 'U', 'l', '#')").as("mask_custom"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey,
        REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(c_name,
          '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS mask_all,
        REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(c_name,
          '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#', 'g') AS mask_custom
      FROM customer WHERE c_custkey <= 200
      ORDER BY c_custkey"""
    )),
  )
}
