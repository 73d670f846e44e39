package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{MinHashImpl, ShingleHashes}
import graft.operators._

/** Behavioral specs for the LLM-pipeline operators (dedup, similarity,
  * text analysis, multimodal plumbing) on planted fixtures with known
  * answers.
  */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different text about astronomy stars galaxies and void"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "einzelne deutsche worte ohne englische bedeutung hier"),
  ).toDF("doc_id", "text")

  // --- dedup -----------------------------------------------------------

  test("exactDupGroups finds the planted exact duplicate") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_copies") == 2)
    assert(g.head.getAs[Long]("keep_id") == 1L)
  }

  test("minhash kernel equals brute-force signature") {
    val hashes = Array(17L, 99999L, 123456789L)
    val (as, bs) = MinHashImpl.coeffs(8, 42L)
    val sig = MinHashImpl.signature(hashes, as, bs)
    (0 until 8).foreach { i =>
      val expect = hashes.map(x => (as(i) * x + bs(i)) % MinHashImpl.P).min
      assert(sig(i) == expect)
    }
    // empty input → sentinel P everywhere (never matches a real hash)
    assert(MinHashImpl.signature(Array.empty, as, bs).forall(_ == MinHashImpl.P))
  }

  test("lsh_band_buckets kernel bit-identical to the xxhash64-slice HOF") {
    val sig = docs
      .select(call_function("minhash_signature",
        call_function("shingle_hashes", lower(col("text")), lit(3)),
        lit(12), lit(7L)).as("sig"))
    val bands = 4; val rows = 3
    val native = sig
      .select(Dedup.lshBandBuckets(col("sig"), bands, rows).as("b"))
      .collect().map(_.getSeq[Long](0))
    val hof = sig
      .select(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)).as("b"))
      .collect().map(_.getSeq[Long](0))
    assert(native.toSeq == hof.toSeq)
  }

  test("minhashDupPairs: exact+near dups found, unrelated docs not paired") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val ids = pairs.map(p => (p._1, p._2))
    assert(ids.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 1.0)
    assert(ids.contains((1L, 2L)) && ids.contains((2L, 4L))) // near dup
    assert(!ids.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
    assert(!ids.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs at hamming 0; unrelated docs unpaired") {
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(exact.isDefined && exact.get._3 == 0)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccardPairs computes exact jaccard on shingle sets") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      maxDocFreq = 10, minShared = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    // docs 1/2: 13 words → 11 shingles each, difference only in the last
    // word → 10 shared, union 12
    assert(math.abs(pairs((1L, 2L)) - 10.0 / 12.0) < 1e-12)
  }

  test("ngramJaccardPairs: mega-frequent shingle never buffers past the cap") {
    import scala.collection.mutable.ArrayBuffer
    // e2e: one shingle ("common words here") present in EVERY doc — over
    // maxDocFreq, so it must contribute no pairs; the distinctive tails
    // still pair their docs
    val spark2 = spark
    import spark2.implicits._
    val hot = (1L to 40L).map { i =>
      val tail = if (i <= 2) "alpha beta gamma" else s"unique tail $i"
      (i, s"common words here $tail")
    }.toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(hot, "doc_id", "text",
      maxDocFreq = 10, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // shared distinctive tail
    assert(pairs.size == 1, pairs)  // hot shingle produced no pair floods
    // unit: the agg buffer saturates at cap+1 under update AND merge
    val agg = graft.functions.CollectCapped(Seq(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false)), 5)
    var buf = agg.createAggregationBuffer()
    (1L to 100L).foreach { v =>
      buf = agg.update(buf,
        org.apache.spark.sql.catalyst.InternalRow(v))
      assert(buf.length <= 6)
    }
    assert(agg.eval(buf) == null) // over cap → dropped
    val merged = agg.merge(
      ArrayBuffer(1L, 2L, 3L, 4L), ArrayBuffer(5L, 6L, 7L, 8L))
    assert(merged.length == 6 && agg.eval(merged) == null)
    val under = agg.merge(ArrayBuffer(1L, 2L), ArrayBuffer(3L))
    assert(agg.eval(under) != null)
  }

  test("sorted_pairs2 carries payloads, orders by id, skips equal ids") {
    val spark2 = spark
    import spark2.implicits._
    // posting list arrives id-descending with a duplicate id: pairs must
    // come out (lo id, its payload, hi id, its payload), no self-pair
    val out = Seq(Tuple1(Seq((9L, 90L), (3L, 30L), (9L, 91L), (1L, 10L))))
      .toDF("arr")
      .select(explode(call_function("sorted_pairs",
        col("arr").cast("array<struct<a:bigint,b:bigint>>"))).as("p"))
      .select("p.id1", "p.b1", "p.id2", "p.b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (3L, 30L, 9L, 90L), (1L, 10L, 9L, 90L),
      (3L, 30L, 9L, 91L), (1L, 10L, 9L, 91L),
      (1L, 10L, 3L, 30L)))
  }

  test("collect_capped2 saturates at cap+1 pairs under update and merge") {
    import scala.collection.mutable.ArrayBuffer
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val agg = graft.functions.CollectCapped(Seq(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false)), 5)
    var buf = agg.createAggregationBuffer()
    (1L to 100L).foreach { v =>
      buf = agg.update(buf, InternalRow(v, v * 10))
      assert(buf.length <= 12) // (cap+1) entries × 2 longs
    }
    assert(agg.eval(buf) == null) // over cap → dropped whole
    val merged = agg.merge(
      ArrayBuffer(1L, 10L, 2L, 20L, 3L, 30L, 4L, 40L),
      ArrayBuffer(5L, 50L, 6L, 60L, 7L, 70L, 8L, 80L))
    assert(merged.length == 12 && agg.eval(merged) == null)
    val under = agg.merge(ArrayBuffer(1L, 10L), ArrayBuffer(2L, 20L))
    val arr = agg.eval(under)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.numElements() == 2)
    assert(arr.getStruct(0, 2).getLong(1) == 10L)
    // round-trips through the shuffle serializer
    assert(agg.deserialize(agg.serialize(under)) == under)
  }

  test("simhashDupPairs one-pass groupBy equals the self-join formulation") {
    // the r17 rewrite must emit exactly the pairs the (chunk_idx,
    // chunk_val) self-join produced, hamming included
    val t = Dedup.simhashTable(docs, "doc_id", "text")
    val b = t.select(col("id"), col("sim"),
      posexplode(col("chunks")).as(Seq("chunk_idx", "chunk_val")))
    val l = b.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("id1"), col("sim").as("sim1"))
    val r = b.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("id2"), col("sim").as("sim2"))
    val joined = l.join(r, Seq("chunk_idx", "chunk_val"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val onePass = Dedup.simhashDupPairs(docs, "doc_id", "text", 4, 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(onePass == joined)
    assert(onePass.contains((1L, 4L, 0))) // planted exact dup at hamming 0
  }

  test("simhashDupPairs: degenerate chunk bucket is capped, not quadratic") {
    val spark2 = spark
    import spark2.implicits._
    // r18 (advisor): identical-text clusters share all 4 simhash chunks,
    // so every chunk bucket of the cluster goes quadratic uncapped. With
    // maxBucket below the cluster size the hot buckets drop whole (zero
    // pairs from the cluster — the exact-dup path's job) while a planted
    // distinct near-dup pair still surfaces; with the cap above the
    // cluster size behavior is unchanged (threshold, not rewrite).
    val constant = (1L to 60L).map(i =>
      (i, "exactly the same boilerplate text repeated in every document"))
    // identical planted pair: hamming 0 ⇒ shares every chunk ⇒ its
    // buckets have exactly 2 members, far under the cap
    val planted = Seq(
      (101L, "a genuinely distinctive document about alpine meteorology data"),
      (102L, "a genuinely distinctive document about alpine meteorology data"))
    val corpus = (constant ++ planted).toDF("doc_id", "text")
    val capped = Dedup.simhashDupPairs(corpus, "doc_id", "text",
        chunks = 4, maxHamming = 10, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((101L, 102L)), capped)
    assert(!capped.exists(p => p._1 <= 60L || p._2 <= 60L),
      s"hot chunk bucket leaked pairs: ${capped.take(5)}")
    val above = Dedup.simhashDupPairs(corpus, "doc_id", "text",
        chunks = 4, maxHamming = 10, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(above.count(p => p._1 <= 60L && p._2 <= 60L) == 60 * 59 / 2)
  }

  test("sorted_pairs kernels: pair-count sizing is Long-safe past 65536 ids") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
    // n=65537 → n*(n-1)/2 overflows Int to a negative number; the kernel
    // must fail loudly (posting lists are collect_capped in the shipped
    // pipelines, so this is the uncapped-caller guard), never allocate a
    // negative-size array or truncate
    val big = new GenericArrayData(Array.tabulate(70000)(_.toLong))
    val e1 = intercept[IllegalArgumentException] {
      graft.functions.SortedPairs(Literal(null, LongType)).pairsFor(big)
    }
    assert(e1.getMessage.contains("cap the posting list"), e1.getMessage)
    val bigStructs = new GenericArrayData(Array.tabulate(70000)(i =>
      org.apache.spark.sql.catalyst.InternalRow(i.toLong, 0L): Any))
    val e2 = intercept[IllegalArgumentException] {
      graft.functions.SortedPairs(Literal(null, ArrayType(
        new StructType().add("id", LongType).add("b", LongType)))).pairsFor(bigStructs)
    }
    assert(e2.getMessage.contains("cap the posting list"), e2.getMessage)
  }

  test("text_stats/marker_hits kernels bit-identical to the regex formulations") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.Column
    // the exact formulations the r18 kernels replaced — any deviation
    // on the fixture corpus or adversarial strings is a regression
    def oldTokenCount(t: Column) = when(length(trim(t)) === 0, lit(0))
      .otherwise(size(split(trim(t), "\\s+")))
    def oldSubword(t: Column) = size(regexp_extract_all(t,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
    def oldNonspace(t: Column) = length(regexp_replace(t, "\\s+", ""))
    def oldPunct(t: Column) = length(regexp_replace(t, "[A-Za-z0-9\\s]", ""))
    def oldHits(t: Column, words: Seq[String]) = size(regexp_extract_all(
      lower(t), lit(words.mkString("\\b(", "|", ")\\b")), lit(0)))
    val adversarial = Seq(
      "", " ", "  a  ", "\tab\t", " \t leading tab", "a1b2 c_d", "the and of",
      "thethe", "a", "andrew the_", "héllo wörld the", "ünicode ÉTÉ the",
      "12 34abc!?», e=mc2", "the,and.of;to", "_the_ the", "a\nb\rc\fd\u000be",
      "ß THE The the", "🙂 the 🙂🙂",
      "é🙂the", "with with with", "le la der und el")
    val docsT = GraftSession.table(spark, sfDir, "documents").select(col("text"))
    val advT = adversarial.toDF("text")
    Seq("fixture corpus" -> docsT, "adversarial" -> advT).foreach {
      case (label, src) =>
        val t = col("text")
        val st = call_function("text_stats", t)
        val bad = src.filter(!(
          (st.getField("n_tokens") <=> oldTokenCount(t)) &&
          (st.getField("n_subwords") <=> oldSubword(t)) &&
          (st.getField("n_nonspace") <=> oldNonspace(t)) &&
          (st.getField("n_punct") <=> oldPunct(t)) &&
          TextAnalysis.langMarkers.map { case (_, words) =>
            TextAnalysis.stopwordHits(t, words) <=> oldHits(t, words)
          }.reduce(_ && _) &&
          (TextAnalysis.stopwordHits(t) <=> oldHits(t, TextAnalysis.enStopwords))
        )).collect()
        assert(bad.isEmpty, s"$label: ${bad.take(3).mkString(" | ")}")
    }
  }

  test("candidatePairs: degenerate LSH bucket is capped, not quadratic") {
    val spark2 = spark
    import spark2.implicits._
    // pathological corpus: 60 documents with IDENTICAL text — every
    // band maps all 60 ids to one bucket. Uncapped this is 60·59/2
    // pairs per band; with maxBucket=10 the hot buckets saturate and
    // drop whole, so the pathological cluster yields ZERO candidate
    // pairs (exactDupGroups is the O(n) path for identical text) while
    // a planted pair of distinct near-dup docs still surfaces.
    val constant = (1L to 60L).map(i =>
      (i, "exactly the same boilerplate text repeated in every document"))
    val planted = Seq(
      (101L, "a genuinely distinctive document about alpine meteorology data"),
      (102L, "a genuinely distinctive document about alpine meteorology study"))
    val corpus = (constant ++ planted).toDF("doc_id", "text")
    val buckets = Dedup.bucketTable(corpus, "doc_id", "text")
    val pairs = Dedup.candidatePairs(buckets, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 102L)), pairs)
    assert(!pairs.exists(p => p._1 <= 60L || p._2 <= 60L),
      s"hot bucket leaked pairs: ${pairs.take(5)}")
    // the identical-text cluster is the exact-dup path's job
    val g = Dedup.exactDupGroups(corpus, "doc_id", "text").collect()
    assert(g.exists(_.getAs[Long]("n_copies") == 60L))
    // and with a cap above the cluster size the pairs DO appear
    // (capping is a threshold, not a behavior change below it)
    val uncapped = Dedup.candidatePairs(buckets, maxBucket = 100)
      .collect().length
    assert(uncapped >= 60 * 59 / 2)
  }

  test("collect_capped input typing: INT accepted natively, STRING fails analysis") {
    val spark2 = spark
    import spark2.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val ints = Seq(1, 2, 3).toDF("v")
    ints.createOrReplaceTempView("cc_ints")
    val got = spark.sql("select collect_capped(v, 5) a from cc_ints")
      .head().getSeq[Long](0).sorted
    assert(got == Seq(1L, 2L, 3L))
    Seq("a", "b").toDF("s").createOrReplaceTempView("cc_strs")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("select collect_capped(s, 5) a from cc_strs").collect()
    }
    assert(err.getMessage.toLowerCase.contains("integral"), err.getMessage)
  }

  test("shingle_hashes kernel: n-gram count and determinism") {
    val hs = ShingleHashes.compute("a b c d", 3)
    assert(hs.numElements() == 2) // "a b c", "b c d"
    val hs2 = ShingleHashes.compute("a b c d", 3)
    assert(hs.toLongArray().sameElements(hs2.toLongArray()))
    assert(ShingleHashes.compute("a b", 3).numElements() == 1) // whole text
    assert(hs.toLongArray().forall(h => h >= 0 && h < MinHashImpl.P))
  }

  test("native tokeniser trims like SQL: leading tab, trailing newline") {
    val spark2 = spark
    import spark2.implicits._
    // SQL TRIM strips spaces only, so a leading tab or a trailing newline
    // survives it and splits into an empty first or last token; the
    // native kernels must see the same words as the SQL shingle path
    val edge = Seq(
      (1L, "\tthe quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog\n"),
      (3L, " \tthe quick brown fox jumps over the lazy cat \n "),
      (4L, "\t a b"),
      (5L, "completely different words about something else entirely"),
    ).toDF("doc_id", "text")
    val sizes = edge.select(col("doc_id"),
        size(Dedup.shingleHashes(col("text"))).as("native"),
        size(Dedup.shingleSet(col("text"))).as("sql"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    sizes.foreach { case (id, native, sql) =>
      assert(native == sql, s"doc $id: shingle_hashes $native, shingleSet $sql")
    }
    def pairs(df: DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = pairs(Dedup.jaccardPairsExact(edge, "doc_id", "text",
      threshold = 0.0))
    val inverted = pairs(Dedup.ngramJaccardPairs(edge, "doc_id", "text",
      maxDocFreq = 10, minShared = 2))
    // the planted pair: same 9 words, tab-led vs newline-ended
    assert(inverted.contains((1L, 2L)), inverted)
    assert(inverted((1L, 2L)) == exact((1L, 2L)),
      s"inverted ${inverted((1L, 2L))} exact ${exact((1L, 2L))}")
    assert(exact((1L, 2L)) < 1.0) // the edge tokens are real shingles
  }

  // --- similarity ------------------------------------------------------

  private lazy val vecs: DataFrame = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)), // opposite
    (4L, Array(0.8f, 0.2f, 0.1f)),  // close-ish
  ).toDF("vec_id", "vec")

  test("cosine: hand-computed values") {
    val r = vecs.filter($"vec_id" === 1L)
      .select(Similarity.cosine($"vec", typedlit(Seq(1.0f, 0.0f, 0.0f))))
      .head().getDouble(0)
    // cos = 0.9 / sqrt(0.81+0.01) = 0.9/0.90554
    assert(math.abs(r - 0.9 / math.sqrt(0.82)) < 1e-9)
  }

  test("bruteForceTopK: correct ranking, query excluded") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "vec", 0L, 3)
      .collect().map(_.getLong(0))
    assert(top.toSeq == Seq(1L, 4L, 2L)) // by descending cosine to [1,0,0]
  }

  test("embedDupPairs: the planted twins pair up, nothing else reaches 0.9") {
    val dim = 64
    def splitmix(seed: Long): Iterator[Double] = new Iterator[Double] {
      var x = seed
      def hasNext = true
      def next(): Double = {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        ((z ^ (z >>> 31)) >>> 11) * (2.0 / (1L << 53)) - 1.0
      }
    }
    val base = splitmix(1L).take(dim).toArray
    val rows = (0L to 60L).map { id =>
      val v =
        if (id == 0L) base
        else if (id <= 2L) base.zip(splitmix(id).take(dim).toSeq)
          .map { case (b, n) => b + 0.02 * n } // near-dups of 0
        else splitmix(id).take(dim).toArray
      (id, v.map(_.toFloat))
    }
    val corpus = rows.toDF("vec_id", "vec")
    val exact = Dedup.embedDupPairs(corpus, "vec_id", "vec", 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the three planted twins pair up pairwise, nothing else reaches 0.9
    assert(exact == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("jaccardPairsExact matches hand-computed jaccard and finds near-dup") {
    val pairs = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // docs 1 & 4 identical → jaccard 1.0
    assert(pairs((1L, 4L)) == 1.0)
    // docs 1 & 2 differ in the last word: 11 shingles each, 10 shared
    assert(math.abs(pairs((1L, 2L)) - 10.0 / 12.0) < 1e-12)
    // unrelated docs below threshold
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 5L)))
  }

  // --- text analysis ---------------------------------------------------

  test("token counts and ratios") {
    val df = Seq("Hello, World! 123").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount($"t"),
      TextAnalysis.subwordCount($"t"),
      TextAnalysis.punctRatio($"t"),
      TextAnalysis.digitRatio($"t")).head()
    assert(r.getInt(0) == 3)
    assert(r.getInt(1) == 5) // [Hello][,][World][!][123]
    assert(r.getDouble(2) == 2.0 / 17) // ',' and '!'
    assert(r.getDouble(3) == 3.0 / 17) // '1' '2' '3'
  }

  test("langId picks marker-majority language, 'und' when none") {
    val r = Seq(
      "the cat and the dog with this hat",
      "der hund und die katze mit von das",
      "xyzzy plugh qwerty").toDF("t")
      .select(TextAnalysis.langId($"t")).collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "de", "und"))
  }

  test("vocabFingerprint is order-insensitive") {
    val r = Seq(("alpha beta gamma", "gamma alpha beta alpha"), ("a b", "a c"))
      .toDF("t1", "t2")
      .select(TextAnalysis.vocabFingerprint($"t1") ===
        TextAnalysis.vocabFingerprint($"t2")).collect().map(_.getBoolean(0))
    assert(r.toSeq == Seq(true, false))
  }

  test("qualityScore rewards clean English prose") {
    val good = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river with a friend for many days in the sun"
    val bad = "@@@@ #### $$$$ 1234 %%%% ^^^^ &&&& **** (((( ))))"
    val r = Seq(good, bad).toDF("t")
      .select(TextAnalysis.qualityScore($"t")).collect().map(_.getDouble(0))
    assert(r(0) == 1.0)
    assert(r(1) <= 0.25)
  }

  // --- multimodal plumbing ---------------------------------------------

  test("multimodal: schema, deterministic stub features, partition path") {
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq("doc_id" -> "long", "payload" -> "binary", "format" -> "string",
        "n_bytes" -> "long"))
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats.size == 5)
    val f1 = feats(1L)
    val bytes = "the quick brown fox jumps over the lazy dog near the river bank"
      .getBytes("UTF-8")
    assert(f1.n_bytes == bytes.length)
    assert(f1.byte_sum == bytes.map(_ & 0xff).sum)
    assert(f1.head_hex == bytes.take(8).map("%02x".format(_)).mkString)
    assert(f1.codec == "bin" && f1.width == 0 && f1.height == 0)
    // exact dup payload ⇒ identical features
    assert(feats(4L).byte_sum == f1.byte_sum)
  }

  test("MediaCodec.decodeDims parses real ImageIO files and its own fixtures") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // validated against a REAL codec: JDK ImageIO writes full files,
    // the byte-level parser must recover exact dimensions
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    for ((fmt, codec) <- Seq("png" -> "png", "jpg" -> "jpeg",
           "gif" -> "gif", "bmp" -> "bmp");
         (w, h) <- Seq((17, 331), (1024, 3))) {
      val d = MediaCodec.decodeDims(encode(fmt, w, h))
      assert(d.contains((codec, w, h)), s"$fmt ${w}x$h -> $d")
    }
    // own minimal header-valid encoders roundtrip
    assert(MediaCodec.decodeDims(MediaCodec.pngBytes(640, 480))
      .contains(("png", 640, 480)))
    assert(MediaCodec.decodeDims(MediaCodec.jpegBytes(1, 65535))
      .contains(("jpeg", 1, 65535)))
    assert(MediaCodec.decodeDims(MediaCodec.gifBytes(320, 200))
      .contains(("gif", 320, 200)))
    assert(MediaCodec.decodeDims(MediaCodec.bmpBytes(12, 34))
      .contains(("bmp", 12, 34)))
    assert(MediaCodec.decodeDims("plain text payload".getBytes("UTF-8")).isEmpty)
  }
}
