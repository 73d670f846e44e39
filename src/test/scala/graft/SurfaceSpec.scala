package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import scala.jdk.CollectionConverters._

/** Surface-completeness check: every function name claimed in SURVEY §2.8
  * / §2.4 (the reference registry's user-facing names, minus the
  * intentionally-out-of-scope ones) must resolve in a tuned session —
  * as a Spark builtin, an alias, or a native expression. Also pins the
  * entry-point surface: one session setup for every main and spec, a
  * codegen cache that holds the TPC-H working set, and the run accounting
  * the Bench and Verify mains report.
  */
class SurfaceSpec extends SparkSpecBase {

  private val names = Seq(
    // math (math-functions-ir.cc)
    "abs", "ceil", "ceiling", "floor", "round", "truncate", "exp", "ln",
    "log", "log2", "log10", "pow", "power", "sqrt", "sin", "cos", "tan",
    "asin", "acos", "atan", "atan2", "sinh", "cosh", "tanh", "cot",
    "degrees", "radians", "pi", "e", "sign", "mod", "fmod", "pmod",
    "factorial", "conv", "bin", "hex", "unhex", "greatest", "least",
    "rand", "quotient", "width_bucket", "positive", "negative",
    "dceil", "dfloor", "dround", "dsqrt", "dexp", "dlog10", "dpow",
    "is_inf", "is_nan", "isnan",
    "max_int", "min_int", "max_bigint", "min_bigint", "max_tinyint",
    "min_tinyint", "max_smallint", "min_smallint",
    // string (string-functions-ir.cc)
    "length", "char_length", "lower", "upper", "initcap", "concat",
    "concat_ws", "substr", "substring", "left", "right", "lpad", "rpad",
    "trim", "ltrim", "rtrim", "btrim", "space", "repeat", "reverse",
    "translate", "replace", "ascii", "chr", "instr", "locate",
    "find_in_set", "split_part", "parse_url", "regexp_extract",
    "regexp_like", "regexp_replace", "regexp_count", "regexp_match_count",
    "base64encode", "base64decode", "levenshtein", "damerau_levenshtein",
    "jaro_distance", "jaro_similarity", "jaro_winkler_distance",
    "jaro_winkler_similarity", "strleft", "strright",
    // json
    "get_json_object", "from_json", "to_json", "json_tuple",
    // timestamp/date (timestamp-functions-ir.cc, date-functions-ir.cc)
    "now", "current_date", "current_timestamp", "unix_timestamp",
    "from_unixtime", "to_timestamp", "date_add", "date_sub", "datediff",
    "date_trunc", "trunc", "extract", "date_part", "year", "quarter",
    "month", "day", "hour", "minute", "second", "dayname", "monthname",
    "dayofweek", "dayofyear", "weekofyear", "next_day", "last_day",
    "months_between", "int_months_between", "to_utc_timestamp",
    "from_utc_timestamp", "years_add", "years_sub", "months_add",
    "months_sub", "weeks_add", "weeks_sub", "days_add", "days_sub",
    "hours_add", "hours_sub", "minutes_add", "minutes_sub", "seconds_add",
    "seconds_sub", "milliseconds_add", "milliseconds_sub",
    "microseconds_add", "microseconds_sub", "timestamp_cmp",
    "unix_micros_to_utc_timestamp", "utc_to_unix_micros", "utc_timestamp",
    // conditional (conditional-functions.h)
    "if", "ifnull", "isnull", "nvl", "nvl2", "coalesce", "nullif",
    "zeroifnull", "nullifzero", "decode", "istrue", "isfalse",
    "isnottrue", "isnotfalse", "nonnullvalue", "nullvalue", // CASE = grammar
    // bit/byte (bit-byte-functions-ir.cc)
    "shiftleft", "shiftright", "rotateleft", "rotateright", "setbit",
    "getbit", "countset", "bit_count",
    // hash/utility (utility-functions-ir.cc)
    "fnv_hash", "murmur_hash", "uuid", "sleep", "user", "current_user",
    "effective_user", "current_database", "version", "typeof",
    // masking (mask-functions-ir.cc)
    "mask", "mask_first_n", "mask_last_n", "mask_show_first_n",
    "mask_show_last_n", "mask_hash",
    // aggregates (BuiltinsDb.java)
    "count", "min", "max", "sum", "avg", "ndv", "ndv_hll",
    "appx_median", "percentile_approx", "histogram", "sampled_ndv",
    "pc", "pcsa", "stddev", "stddev_samp", "stddev_pop", "variance",
    "var_samp", "var_pop", "group_concat", "corr", "covar_pop",
    "covar_samp",
    // datasketches (datasketches-functions-ir.cc)
    "ds_hll_sketch", "ds_hll_union", "ds_hll_estimate", "ds_hll_stringify",
    "ds_hll_sketch_and_estimate", "ds_hll_union_f",
    "ds_hll_estimate_bounds_as_string",
    "ds_kll_sketch", "ds_kll_union", "ds_kll_quantile", "ds_kll_rank",
    "ds_kll_n", "ds_kll_cdf", "ds_kll_pmf", "ds_kll_quantiles_as_string",
    "ds_kll_cdf_as_string", "ds_kll_pmf_as_string", "ds_kll_stringify",
    // analytic (AnalyticExpr.java)
    "rank", "dense_rank", "row_number", "percent_rank", "cume_dist",
    "ntile", "lead", "lag", "first_value", "last_value", "first", "last",
    // pipeline kernels (ours)
    "shingle_hashes", "minhash_signature", "simhash64", "simhash_text",
    "vec_dot", "vec_cosine", "vec_norm",
  )

  test("every claimed function name resolves in the session") {
    GraftSession.tune(spark)
    val reg = spark.sessionState.functionRegistry
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      .functionSet.map(_.funcName).toSet
    val missing = names.filterNot { n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)) ||
        builtin.contains(n)
    }
    assert(missing.isEmpty, s"unresolvable: ${missing.mkString(", ")}")
  }

  test("GraftSession.local(n) is tuned at creation, with n partitions and a fresh warehouse") {
    val shared = spark
    // without a default session, local() builds a new session on the
    // running context; no table() call ever touches it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try GraftSession.local(2) finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s ne shared)
    assert(s.conf.get("spark.sql.sources.fileCompressionFactor") == "4.0")
    assert(s.catalog.functionExists("text_stats"))
    assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft-wh") &&
      wh != shared.conf.get("spark.sql.warehouse.dir"), wh)
    assert(new java.io.File(new java.net.URI(wh)).list().isEmpty, wh)
  }

  test("Bench tally: a failed query makes the total -1 and is counted") {
    val t = Bench.Tally(Seq("a" -> 1.5, "b" -> -1.0, "c" -> 0.5),
      Seq("d" -> "not in SparkEntry.queries"))
    assert(t.total == -1.0)
    assert(t.failed == Seq("b"))
    assert(Bench.Tally(Seq("a" -> 1.5, "c" -> 0.5), Nil).total == 2.0)
  }

  test("every query group that registers no queries names a missing input") {
    val unexplained = SparkEntry.emptyGroups.collect { case (g, Seq()) => g }
    assert(unexplained.isEmpty, unexplained.mkString(", "))
  }

  test("TPC-H 1-22 reuses its generated classes in a second pass") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val c0 = compiled
      (1 to 22).foreach(i => SparkEntry.queries(s"tpch_q$i")(spark, sfDir).collect())
      compiled - c0
    }
    val first = pass()
    val sparkDefault = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValue.get
    assert(first > sparkDefault,
      s"first pass compiled $first classes, no more than Spark's default cache holds")
    // A cache of Spark's default size reuses at most that many classes.
    // In a JVM of its own the second pass compiles nothing; in the shared
    // test JVM it compiles a few classes again, because Spark keys the
    // cache by the compiling thread's context class loader and the
    // driver's exchange thread pools carry several.
    val second = pass()
    assert(first - second > sparkDefault,
      s"second pass recompiled $second of $first classes")
  }

  test("only GraftSession.scala builds a Spark session") {
    val needle = "SparkSession" + ".builder" // split: this file must not match
    val roots = Seq("src/main/scala", "src/test/scala")
      .map(java.nio.file.Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), "run from the repository root")
    val hits = roots.flatMap { r =>
      scala.util.Using.resource(Files.walk(r))(
        _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    }.filter(p => Files.readString(p).contains(needle))
    assert(hits.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      hits.mkString(", "))
  }

  test("no source file under src/ holds a raw control byte") {
    // git diffs a file with a NUL byte as binary; a control character in
    // a literal belongs in a unicode escape
    val root = java.nio.file.Paths.get("src")
    assert(Files.isDirectory(root), "run from the repository root")
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(Files.isRegularFile(_)).toList)
    val hits = files.flatMap { p =>
      val lines = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.ISO_8859_1).split("\n", -1)
      lines.zipWithIndex.collect {
        case (l, i) if l.exists(c => c < ' ' && c != '\t' && c != '\r') =>
          s"$p:${i + 1}"
      }
    }
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
