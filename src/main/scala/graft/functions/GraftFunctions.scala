package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}

/** Registration point for the Impala-compat function layer
  * (SURVEY.md §2.8/§2.4): name aliases over Spark built-ins
  * ([[Aliases]]) plus the custom Catalyst expressions / aggregates for
  * the true gaps — hashes ([[FnvHash]]/[[MurmurHash64]]), bit ops
  * ([[RotateLeft]]/[[RotateRight]]/[[GetBit]]/[[SetBit]]/[[CountSet]]),
  * string distances ([[DamerauLevenshtein]]/Jaro family), and sketches
  * ([[NdvHll]]/[[DsHllSketch]]/[[DsKllSketch]]/[[HistogramAgg]]).
  *
  * Idempotent per session; call via [[graft.GraftSession]].
  */
object GraftFunctions {

  private val custom: Map[String, Seq[Expression] => Expression] = Map(
    // hashes (be/src/exprs/utility-functions-ir.cc)
    "fnv_hash" -> (a => FnvHash(a.head)),
    "murmur_hash" -> (a => MurmurHash64(a.head)),
    // Impala-semantics overrides of same-named Spark builtins, pinned
    // by the reference's functional-query goldens (ImpalaSemantics)
    "date_add" -> (a => ImpalaDateShift(a(0), a(1), "DAY", neg = false)),
    "date_sub" -> (a => ImpalaDateShift(a(0), a(1), "DAY", neg = true)),
    "adddate" -> (a => ImpalaDateShift(a(0), a(1), "DAY", neg = false)),
    "subdate" -> (a => ImpalaDateShift(a(0), a(1), "DAY", neg = true)),
    "add_months" -> (a => ImpalaDateShift(a(0), a(1), "MONTH", neg = false)),
    "year" -> (a => ImpalaTimeFn(a.head, "year")),
    "month" -> (a => ImpalaTimeFn(a.head, "month")),
    "day" -> (a => ImpalaTimeFn(a.head, "day")),
    "dayofmonth" -> (a => ImpalaTimeFn(a.head, "day")),
    "hour" -> (a => ImpalaTimeFn(a.head, "hour")),
    "minute" -> (a => ImpalaTimeFn(a.head, "minute")),
    "second" -> (a => ImpalaTimeFn(a.head, "second")),
    "quarter" -> (a => ImpalaTimeFn(a.head, "quarter")),
    "weekofyear" -> (a => ImpalaTimeFn(a.head, "weekofyear")),
    "dayofyear" -> (a => ImpalaTimeFn(a.head, "dayofyear")),
    "round" -> (a =>
      ImpalaRound(a.head, if (a.length > 1) a(1) else Literal(0))),
    // pid() — the backend process id, constant across the query
    // (utility-functions-ir.cc Pid; exprs.test's union-distinct probe
    // verifies one process answers every row)
    "pid" -> (_ => Literal(ProcessHandle.current().pid().toInt)),
    // coordinator() — the coordinating host's name, constant across
    // the query (utility-functions-ir.cc Coordinator; single-process
    // sandbox = this host, like pid())
    "coordinator" -> (_ => Literal(
      scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
        .getOrElse("localhost"))),
    // MADlib vector builtins (udf-builtins-ir.cc:99-200)
    "madlib_vector" -> (a => MadlibVector(a.map(e =>
      Cast(e, org.apache.spark.sql.types.DoubleType)))),
    "madlib_vector_get" -> (a => MadlibVectorGet(
      Cast(a(0), org.apache.spark.sql.types.LongType), a(1))),
    "madlib_print_vector" -> (a => MadlibPrintVector(a.head)),
    "madlib_encode_vector" -> (a => MadlibEncodeVector(a.head)),
    "madlib_decode_vector" -> (a => MadlibDecodeVector(a.head)),
    "regexp_like" -> (a =>
      if (a.length == 2)
        org.apache.spark.sql.catalyst.expressions.RLike(a(0),
          ImpalaPosixPattern(a(1)))
      else ImpalaRegexpLike(a(0), ImpalaPosixPattern(a(1)), a(2))),
    // Impala's regexp functions run on RE2 — POSIX bracket classes
    // translate to Java \p{...} at eval time
    "regexp_extract" -> (a =>
      org.apache.spark.sql.catalyst.expressions.RegExpExtract(a(0),
        ImpalaPosixPattern(a(1)),
        if (a.length > 2) a(2) else Literal(1))),
    "regexp_replace" -> (a =>
      org.apache.spark.sql.catalyst.expressions.RegExpReplace(a(0),
        ImpalaPosixPattern(a(1)), a(2))),
    "log" -> (a =>
      if (a.length == 2)
        ImpalaLog(Cast(a(0), org.apache.spark.sql.types.DoubleType),
          Cast(a(1), org.apache.spark.sql.types.DoubleType))
      else org.apache.spark.sql.catalyst.expressions.Log(a.head)),
    // bit manipulation (be/src/exprs/bit-byte-functions-ir.cc)
    "rotateleft" -> (a => RotateLeft(a(0), a(1))),
    "rotateright" -> (a => RotateRight(a(0), a(1))),
    "getbit" -> (a => GetBit(a(0), a(1))),
    "setbit" -> (a =>
      if (a.length == 2) SetBit(a(0), a(1), Literal(1)) else SetBit(a(0), a(1), a(2))),
    "countset" -> (a =>
      if (a.length == 1) CountSet(a.head, Literal(1)) else CountSet(a(0), a(1))),
    // string distances (be/src/exprs/string-functions-ir.cc)
    "damerau_levenshtein" -> (a => DamerauLevenshtein(a(0), a(1))),
    "jaro_distance" -> (a => JaroDistance(a(0), a(1))),
    "jaro_similarity" -> (a => JaroSimilarity(a(0), a(1))),
    "jaro_winkler_distance" -> (a => JaroWinklerDistance(a(0), a(1))),
    "jaro_winkler_similarity" -> (a => JaroWinklerSimilarity(a(0), a(1))),
    // sketches (be/src/exprs/aggregate-functions-ir.cc,
    // datasketches-functions-ir.cc)
    // Impala type spellings, not Spark's (utility-functions-ir.cc)
    "typeof" -> (a => ImpalaTypeof(a.head)),
    // 2-arg extract with a RUNTIME unit string (ExtractFromExpr.java);
    // the dialect rewrites Impala's extract(ts, 'unit') onto this name
    "impala_extract" -> (a => ImpalaExtract(
      Cast(a(0), org.apache.spark.sql.types.TimestampType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)),
      a(1))),
    // TimestampValue range clamp [1400-01-01, 9999-12-31] → NULL
    // outside (be/src/runtime/timestamp-value.h) — applied by the
    // dialect to FORMAT-cast parse results
    "impala_ts_range" -> (a => {
      import org.apache.spark.sql.catalyst.expressions.{If, Or, LessThan,
        GreaterThanOrEqual}
      val ts = org.apache.spark.sql.types.TimestampType
      val c = Cast(a.head, ts)
      If(Or(LessThan(c, Cast(Literal("1400-01-01"), ts)),
          GreaterThanOrEqual(c, Cast(Literal("10000-01-01"), ts))),
        Literal.create(null, ts), c)
    }),
    // strict DATE dialect contract (date.test): FORMAT-cast parse
    // failures raise instead of nulling; time-token formats are
    // rejected when the value side is DATE-typed (PARSE ERROR)
    "impala_date_fmt_strict" -> (a => ImpalaDateParseStrict(a(0), a(1))),
    // short-year fill (PrefixYear/RoundYear); the current year comes
    // from the session's NOW_STRING option when set (captured at
    // analysis — each statement re-analyzes, so a preceding SET is seen)
    "impala_year_fill" -> (a => {
      val ns = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.opt.NOW_STRING", "")
      val now = """^(\d{4})""".r.findFirstMatchIn(ns.trim)
        .map(_.group(1).toInt)
        .getOrElse(java.time.LocalDate.now.getYear)
      ImpalaYearFill(a(0), a(1).eval().toString,
        a(2).eval().asInstanceOf[Number].intValue, now)
    }),
    "impala_date_fmt_out_guard" -> (a => {
      if (a(0).resolved &&
          a(0).dataType == org.apache.spark.sql.types.DateType)
        throw new IllegalStateException(
          "PARSE ERROR: Time tokens provided with date type.")
      a(1)
    }),
    // Impala's to_timestamp(STRING, fmt) refuses a format without a
    // date component ("Bad date/time conversion format" —
    // timestamp-functions.cc ParseFormatTokens); exprs.test CATCH
    "to_timestamp" -> (a => {
      if (a.length >= 2) a(1) match {
        case l: Literal if l.value != null =>
          val fmt = l.value.toString
          val bare = fmt.replaceAll("'[^']*'", "")
          if (!bare.exists(c => c == 'y' || c == 'M' || c == 'd'))
            throw new IllegalStateException(
              s"Query aborted:Bad date/time conversion format: $fmt")
        case _ =>
      }
      if (a.length >= 2)
        new org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(
          a(0), a(1))
      else new org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(
        a(0))
    }),
    "ndv_hll" -> (a => NdvHll(a.head)),
    // ds_* builders run DsResolve's STRICT Impala overload resolution
    // first — Spark's implicit casts (SMALLINT→INT, DECIMAL→DOUBLE)
    // must NOT apply (datasketches-hll/kll.test CATCH contract)
    "ds_hll_sketch" -> (a => {
      DsResolve.hllBuild("ds_hll_sketch", a); DsHllSketch(a.head) }),
    "ds_hll_sketch_and_estimate" -> (a => {
      DsResolve.hllBuild("ds_hll_sketch_and_estimate", a)
      DsHllSketchAndEstimate(a.head) }),
    "ds_hll_union" -> (a => {
      DsResolve.sketchArg("ds_hll_union", a); DsHllUnion(a.head) }),
    "ds_hll_union_f" -> (a => {
      DsResolve.unionF("ds_hll_union_f", a); DsHllUnionF(a(0), a(1)) }),
    "ds_hll_estimate" -> (a => {
      DsResolve.sketchArg("ds_hll_estimate", a); DsHllEstimate(a.head) }),
    "ds_hll_estimate_bounds_as_string" -> (a => {
      DsResolve.estimateBounds("ds_hll_estimate_bounds_as_string", a)
      if (a.length == 1) DsHllEstimateBounds(a.head, Literal(2))
      else DsHllEstimateBounds(a(0), a(1)) }),
    "ds_kll_sketch" -> (a => {
      DsResolve.kllBuild("ds_kll_sketch", a); DsKllSketch(a.head) }),
    "ds_kll_union" -> (a => {
      DsResolve.sketchArg("ds_kll_union", a); DsKllUnion(a.head) }),
    "ds_kll_quantile" -> (a => {
      DsResolve.kllQuantile("ds_kll_quantile", a)
      DsKllQuantile(a(0), a(1)) }),
    "ds_kll_rank" -> (a => {
      DsResolve.kllRank("ds_kll_rank", a); DsKllRank(a(0), a(1)) }),
    "ds_kll_n" -> (a => {
      DsResolve.sketchArg("ds_kll_n", a); DsKllN(a.head) }),
    "ds_kll_cdf" -> (a => DsKllCdf(a(0), a(1))),
    "ds_kll_pmf" -> (a => DsKllPmf(a(0), a(1))),
    "ds_kll_quantiles_as_string" -> (a => {
      DsResolve.kllQuantiles("ds_kll_quantiles_as_string", a)
      DsKllQuantilesAsString(a) }),
    "ds_kll_cdf_as_string" -> (a => {
      DsResolve.kllSplits("ds_kll_cdf_as_string", a)
      DsKllCdfAsString(a) }),
    "ds_kll_pmf_as_string" -> (a => {
      DsResolve.kllSplits("ds_kll_pmf_as_string", a)
      DsKllPmfAsString(a) }),
    "ds_hll_stringify" -> (a => {
      DsResolve.sketchArg("ds_hll_stringify", a); DsHllStringify(a.head) }),
    "ds_kll_stringify" -> (a => {
      DsResolve.sketchArg("ds_kll_stringify", a); DsKllStringify(a.head) }),
    "histogram" -> (a => HistogramAgg(a.head)),
    // group_concat as a real AggregateFunction so DISTINCT resolves
    // (BuiltinsDb.java:1277-1288)
    "group_concat" -> (a => GroupConcat(
      Cast(a.head, org.apache.spark.sql.types.StringType),
      if (a.length > 1) a(1)
      else Literal.create(", ", org.apache.spark.sql.types.StringType))),
    // dedup signature kernels (graft.operators.Dedup; k/seed must be
    // foldable literals)
    "shingle_hashes" -> (a => ShingleHashes(a(0),
      a(1).eval().asInstanceOf[Number].intValue)),
    "minhash_signature" -> (a => MinHashSignature(a(0),
      a(1).eval().asInstanceOf[Number].intValue,
      a(2).eval().asInstanceOf[Number].longValue)),
    "lsh_band_buckets" -> (a => LshBandBuckets(a(0),
      a(1).eval().asInstanceOf[Number].intValue,
      a(2).eval().asInstanceOf[Number].intValue)),
    "sorted_pairs" -> (a => SortedPairs(a.head)),
    "collect_capped" -> (a => CollectCapped(a.init,
      a.last.eval().asInstanceOf[Number].intValue)),
    "simhash64" -> (a => SimHash64(a.head)),
    "simhash_text" -> (a => SimHashText(a.head)),
    // text-analysis kernels (graft.operators.TextAnalysis; word list
    // must be a foldable comma-joined literal)
    "text_stats" -> (a => TextStats(a.head)),
    "marker_hits" -> (a => MarkerHits(a(0),
      a(1).eval().toString.split(",").toSeq)),
    // vector kernels (graft.operators.Similarity)
    "vec_dot" -> (a => VecDot(a(0), a(1))),
    "vec_cosine" -> (a => VecCosine(a(0), a(1))),
    "vec_norm" -> (a => VecNorm(a.head)),
  )

  /** Register a Hive UDF class under `name` — the `CREATE FUNCTION name
    * AS 'class'` bridge (hive-udf-call.h:75). `generic = true` for
    * GenericUDF implementations, false for reflective UDF ones; the
    * defining jar goes through Spark's `ADD JAR` as usual.
    */
  def registerHiveUdf(spark: SparkSession, name: String, className: String,
      generic: Boolean = true): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      args =>
        if (generic) org.apache.spark.sql.hive.GraftHiveBridge.genericUdf(className, args)
        else org.apache.spark.sql.hive.GraftHiveBridge.simpleUdf(className, args),
      "hive")

  def registerAll(spark: SparkSession): Unit = {
    // intentional builtin replacements (Impala semantics for hour/round/
    // date_add/…) — drop the per-function replacement WARN so real
    // warnings stay visible in bench/driver logs
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    Aliases.registerAll(spark)
    val reg = spark.sessionState.functionRegistry
    custom.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def names: Seq[String] = (custom.keys ++ Aliases.names).toSeq.sorted
}
