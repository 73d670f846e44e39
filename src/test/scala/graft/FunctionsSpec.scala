package graft

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Exact-value tests for the custom function layer, in the spirit of the
  * reference's `be/src/exprs/expr-test.cc` (per-builtin unit coverage).
  * SQL-path tests run each function through a real query (codegen path);
  * direct Impl calls pin the interpreted semantics to the same values.
  */
class FunctionsSpec extends SparkSpecBase {

  private def sql1(q: String): Row = spark.sql(q).head()

  // --- bit manipulation (bit-byte-functions-ir.cc semantics) ----------

  test("countset counts within the declared width") {
    assert(BitImpls.countset(7, 1) == 3)
    assert(BitImpls.countset(7, 0) == 29) // INT width 32
    assert(BitImpls.countset(7L, 0) == 61) // BIGINT width 64
    assert(BitImpls.countset(-1, 1) == 32)
    assert(BitImpls.countset(0xff.toByte, 1) == 8)
    assert(sql1("SELECT countset(7)").getInt(0) == 3)
    assert(sql1("SELECT countset(7, 0)").getInt(0) == 29)
  }

  test("rotateleft/rotateright wrap within the type width") {
    assert(BitImpls.rotl(1, 1) == 2)
    assert(BitImpls.rotl(Int.MinValue, 1) == 1) // 0x80000000 <<rot 1 = 1
    assert(BitImpls.rotl(1, 32) == 1) // full rotation
    assert(BitImpls.rotr(1, 1) == Int.MinValue)
    assert(BitImpls.rotl(1L, 63) == Long.MinValue)
    assert(BitImpls.rotr(1L, 1) == Long.MinValue)
    assert(BitImpls.rotl(0x81.toByte, 1) == 0x03.toByte) // 8-bit wrap
    // negative shift = opposite direction, like the reference
    assert(BitImpls.rotl(2, -1) == 1)
    assert(sql1("SELECT rotateleft(CAST(2147483648 AS BIGINT), 1)").getLong(0) == 4294967296L)
    assert(sql1("SELECT rotateright(1, 1)").getInt(0) == Int.MinValue)
  }

  test("getbit/setbit") {
    assert(BitImpls.getbit(5, 0) == 1)
    assert(BitImpls.getbit(5, 1) == 0)
    assert(BitImpls.getbit(5, 2) == 1)
    assert(BitImpls.getbit(-1L, 63) == 1)
    assert(BitImpls.setbit(0, 3, 1) == 8)
    assert(BitImpls.setbit(15, 0, 0) == 14)
    assert(sql1("SELECT getbit(5, 2)").getByte(0) == 1)
    assert(sql1("SELECT setbit(0, 3)").getInt(0) == 8)
  }

  // --- hashes (utility-functions-ir.cc) -------------------------------

  test("fnv_hash: FNV-1 64 over the value's byte image") {
    // seed and prime are the public FNV-1 64-bit constants
    assert(HashImpls.fnv(Array.emptyByteArray) == HashImpls.FnvSeed)
    val one = HashImpls.fnv(Array[Byte](0x61)) // 'a'
    assert(one == ((HashImpls.FnvSeed * HashImpls.FnvPrime) ^ 0x61L))
    // type width matters: INT 1 hashes 4 bytes, BIGINT 1 hashes 8
    assert(HashImpls.fnvAny(1) != HashImpls.fnvAny(1L))
    // SQL path (codegen) matches direct eval
    assert(sql1("SELECT fnv_hash('abc')").getLong(0) ==
      HashImpls.fnv("abc".getBytes("UTF-8")))
    assert(sql1("SELECT fnv_hash(42)").getLong(0) == HashImpls.fnvAny(42))
  }

  test("murmur_hash: MurmurHash64A, seed 0") {
    // 8-byte block path + tail path both exercised
    val h1 = HashImpls.murmur("12345678".getBytes)
    val h2 = HashImpls.murmur("12345678x".getBytes)
    assert(h1 != h2)
    assert(sql1("SELECT murmur_hash('12345678')").getLong(0) == h1)
    assert(sql1("SELECT murmur_hash(CAST(7 AS BIGINT))").getLong(0) ==
      HashImpls.murmurAny(7L))
    // distribution smoke: 1000 keys spread across 16 shards
    val shards = (0 until 1000)
      .map(i => (HashImpls.murmurAny(i.toLong) % 16 + 16) % 16).distinct
    assert(shards.size == 16)
  }

  // --- string distances (string-functions-ir.cc) ----------------------

  private def u(s: String) = UTF8String.fromString(s)

  test("damerau_levenshtein (OSA variant)") {
    assert(StringDistanceImpls.damerauLevenshtein(u("ab"), u("ba")) == 1)
    assert(StringDistanceImpls.damerauLevenshtein(u("ca"), u("abc")) == 3)
    assert(StringDistanceImpls.damerauLevenshtein(u("kitten"), u("sitting")) == 3)
    assert(StringDistanceImpls.damerauLevenshtein(u(""), u("abc")) == 3)
    assert(StringDistanceImpls.damerauLevenshtein(u("abc"), u("abc")) == 0)
    assert(sql1("SELECT damerau_levenshtein('ab', 'ba')").getInt(0) == 1)
  }

  test("jaro / jaro-winkler: standard published examples") {
    val jaro = StringDistanceImpls.jaroSimilarity(u("MARTHA"), u("MARHTA"))
    assert(math.abs(jaro - 0.9444444444444445) < 1e-12)
    val jw = StringDistanceImpls.jaroWinklerSimilarity(u("MARTHA"), u("MARHTA"))
    assert(math.abs(jw - 0.9611111111111111) < 1e-12)
    assert(StringDistanceImpls.jaroSimilarity(u("abc"), u("abc")) == 1.0)
    assert(StringDistanceImpls.jaroSimilarity(u("abc"), u("xyz")) == 0.0)
    // distance = 1 - similarity
    assert(StringDistanceImpls.jaroDistance(u("abc"), u("abc")) == 0.0)
    // below the 0.7 boost threshold, no prefix bonus
    val low = StringDistanceImpls.jaroSimilarity(u("abcdefgh"), u("abzzzzzz"))
    assert(low <= 0.7)
    assert(StringDistanceImpls.jaroWinklerSimilarity(u("abcdefgh"), u("abzzzzzz")) == low)
    assert(sql1("SELECT jaro_similarity('MARTHA', 'MARHTA')").getDouble(0) == jaro)
  }

  // --- sketches --------------------------------------------------------

  test("HLL estimate within ~5% on 10k distinct values") {
    val reg = Hll.create()
    (0 until 10000).foreach(i => Hll.update(reg, HashImpls.hllHash(i.toLong, org.apache.spark.sql.types.LongType)))
    val est = Hll.estimate(reg)
    assert(math.abs(est - 10000) < 500, s"estimate $est")
  }

  test("HLL merge == union of streams") {
    val a = Hll.create(); val b = Hll.create(); val c = Hll.create()
    (0 until 5000).foreach(i => Hll.update(a, HashImpls.hllHash(i.toLong, org.apache.spark.sql.types.LongType)))
    (2500 until 7500).foreach(i => Hll.update(b, HashImpls.hllHash(i.toLong, org.apache.spark.sql.types.LongType)))
    (0 until 7500).foreach(i => Hll.update(c, HashImpls.hllHash(i.toLong, org.apache.spark.sql.types.LongType)))
    Hll.merge(a, b)
    assert(Hll.estimate(a) == Hll.estimate(c)) // identical registers
  }

  test("ndv_hll through SQL matches direct HLL; small-range is near-exact") {
    val est = sql1(
      s"SELECT ndv_hll(c_custkey) FROM parquet.`$sfDir/customer.parquet`")
      .getLong(0)
    val exact = sql1(
      s"SELECT COUNT(DISTINCT c_custkey) FROM parquet.`$sfDir/customer.parquet`")
      .getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
  }

  test("KLL quantile/rank exact below the sketch capacity (k=200)") {
    val sql = """SELECT ds_kll_quantile(sk, 0.5D), ds_kll_quantile(sk, 1.0D),
                        ds_kll_rank(sk, cast(26.0 as float)), ds_kll_n(sk)
                 FROM (SELECT ds_kll_sketch(id) sk FROM range(1, 101))"""
    val r = spark.sql(sql).head()
    assert(r.getFloat(0) == 51.0f) // exclusive criteria: cum-weight > 50
    assert(r.getFloat(1) == 100.0f)
    assert(r.getDouble(2) == 0.25) // 25 of 100 strictly below 26
    assert(r.getLong(3) == 100L)
  }

  test("KLL stays within rank-error bounds after compaction (n ≫ k)") {
    val r = spark.sql(
      """SELECT ds_kll_quantile(sk, 0.5D), ds_kll_n(sk)
         FROM (SELECT ds_kll_sketch(id) sk FROM range(1, 100001))""").head()
    // k=200 → normalized rank error ≈ 1.65%; allow 5%
    assert(math.abs(r.getFloat(0) - 50000) < 5000, s"p50=${r.getFloat(0)}")
    assert(r.getLong(1) == 100000L)
  }

  test("histogram: reference ReservoirSample semantics") {
    // n < 100 → all sorted samples (aggregation.test golden shape)
    val h8 = spark.sql(
      "SELECT histogram(x) FROM VALUES (1),(0),(1),(0),(1),(0),(1),(0) t(x)")
      .head.getString(0)
    assert(h8 == "0, 0, 0, 0, 1, 1, 1, 1")
    // n = 250 → 100 buckets at (b+1)*2-1 → even sorted values 1..200
    val h = spark.sql(
      "SELECT histogram(id + 1) FROM range(250)").head.getString(0)
    assert(h.split(", ").length == 100 && h.startsWith("2, 4, 6") &&
      h.endsWith("198, 200"))
    // float prints with C++ ostream default precision (6 significant)
    val hf = spark.sql(
      "SELECT histogram(CAST(1.1 AS FLOAT)) FROM range(2)").head.getString(0)
    assert(hf == "1.1, 1.1")
  }

  test("ds_kll_cdf/pmf and ds_hll_stringify") {
    spark.sql("SELECT 1").count() // session init for function registry
    val r = spark.sql(
      """SELECT ds_kll_cdf(sk, array(25.0d, 50.0d, 75.0d)) cdf,
                ds_kll_pmf(sk, array(25.0d, 50.0d, 75.0d)) pmf,
                ds_hll_stringify(hs) s
         FROM (SELECT ds_kll_sketch(id) sk, ds_hll_sketch(id) hs
               FROM range(1, 101))""").head()
    // n=100 < k=200: the sketch is exact; splits use the reference's
    // exclusive (strictly-below) criteria
    assert(r.getSeq[Double](0) == Seq(0.24, 0.49, 0.74, 1.0))
    assert(math.abs(r.getSeq[Double](1).sum - 1.0) < 1e-12)
    // C++ to_string header casing (datasketches-functions-ir.cc
    // DsHllStringify)
    assert(r.getString(2).startsWith("### HLL sketch summary:"))
    assert(r.getString(2).contains("Log Config K"))
  }

  test("ds_kll sketch → quantile through SQL") {
    // ds_kll_sketch takes FLOAT (reference signature); DOUBLE needs an
    // explicit cast, mirroring Impala's analysis error
    val r = sql1(
      s"""SELECT ds_kll_n(sk), ds_kll_quantile(sk, CAST(0.5 AS DOUBLE))
          FROM (SELECT ds_kll_sketch(CAST(l_quantity AS FLOAT)) sk
                FROM parquet.`$sfDir/lineitem.parquet`)""")
    assert(r.getLong(0) > 5000)
    assert(r.getFloat(1) >= 20 && r.getFloat(1) <= 30) // qty uniform 1..50
  }

  test("ds sketches are wire-compatible with reference/Hive fixtures") {
    val ref = "/root/reference/testdata"
    assume(new java.io.File(s"$ref/data/hll_sketches_from_hive.parquet")
      .isFile)
    Seq("hive", "impala").foreach { src =>
      spark.read.parquet(s"$ref/data/hll_sketches_from_${src}.parquet")
        .createOrReplaceTempView(s"hll_$src")
      // datasketches-hll.test golden row: 5,7,6,5,6,…
      val r = spark.sql(
        s"""SELECT ds_hll_estimate(ti), ds_hll_estimate(i),
                   ds_hll_estimate(bi), ds_hll_estimate(f),
                   ds_hll_estimate(d) FROM hll_$src""").head()
      assert((0 to 4).map(r.getLong) == Seq(5L, 7L, 6L, 5L, 6L), src)
    }
    spark.read.parquet(s"$ref/data/kll_sketches_from_hive.parquet")
      .createOrReplaceTempView("kll_hive")
    val k = spark.sql(
      """SELECT ds_kll_n(f), ds_kll_quantile(f, 0.5D),
                ds_kll_rank(f, cast(50.6 as float)) FROM kll_hive""").head()
    assert(k.getLong(0) == 6L)
    assert(math.abs(k.getFloat(1) - 100.1999969482422f) < 1e-4)
    assert(math.abs(k.getDouble(2) - 0.5) < 1e-12)
  }

  // --- alias layer -----------------------------------------------------

  test("Impala alias functions resolve") {
    assert(sql1("SELECT nvl(NULL, 7)").getInt(0) == 7)
    assert(sql1("SELECT nvl2(NULL, 1, 2)").getInt(0) == 2)
    assert(sql1("SELECT zeroifnull(CAST(NULL AS INT))").getInt(0) == 0)
    assert(sql1("SELECT nullifzero(0)").isNullAt(0))
    assert(sql1("SELECT strleft('hello', 2)").getString(0) == "he")
    assert(sql1("SELECT isfalse(1 > 2)").getBoolean(0))
  }
}
