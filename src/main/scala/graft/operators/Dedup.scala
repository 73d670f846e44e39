package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the point at 100 TB):
  *  - signatures are computed *per row* with higher-order column
  *    expressions — no shuffle, no UDF serialization, no driver state;
  *  - candidate generation shuffles only (band, bucket, id) tuples —
  *    tiny compared to the corpus — and never materializes the O(n²)
  *    pair space;
  *  - frequent-shingle suppression (maxDocFreq) caps the inverted-index
  *    blowup that kills naive pairwise joins on common n-grams;
  *  - verification joins only the candidate pairs back to signatures.
  */
object Dedup {

  /** Mersenne prime 2^31-1: (a*x+b) stays < 2^62, so the arithmetic is
    * overflow-free under ANSI mode.
    */
  private val P = graft.functions.MinHashImpl.P

  /** Word n-gram shingles of `text` (whole text when shorter than n). */
  def shingles(text: Column, n: Int = 3): Column = {
    val words = split(lower(trim(text)), "\\s+")
    when(size(words) < n, array(concat_ws(" ", words)))
      .otherwise(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** Distinct shingle hashes folded into [0, P) — native kernel
    * ([[graft.functions.ShingleHashes]]), one pass per row.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    call_function("shingle_hashes", text, lit(n))

  /** k-permutation MinHash signature of a shingle-hash array:
    * sig[i] = min over x of (a_i * x + b_i) mod P. Computed by the native
    * [[graft.functions.MinHashSignature]] kernel — a single JVM loop per
    * row instead of O(k·|shingles|) interpreted expression evals
    * (~1000× at sf0.1; see DedupExpressions.scala).
    */
  def minhashSignature(hashes: Column, k: Int = 64, seed: Long = 42L): Column =
    call_function("minhash_signature", hashes, lit(k), lit(seed))

  /** LSH banding: hash each of `bands` contiguous signature slices.
    * Two docs sharing any band bucket are candidates; for Jaccard s,
    * P(candidate) = 1-(1-s^rows)^bands (the standard S-curve). Native
    * kernel ([[graft.functions.LshBandBuckets]]) — one JVM loop per row,
    * bit-identical to the xxhash64-per-slice HOF it replaces.
    */
  def lshBandBuckets(sig: Column, bands: Int, rows: Int): Column =
    call_function("lsh_band_buckets", sig, lit(bands), lit(rows))

  /** (id, band, bucket) tuples — the only thing that shuffles. */
  def bucketTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val rows = k / bands
    df.select(col(idCol).as("id"),
        minhashSignature(shingleHashes(col(textCol), shingleN), k).as("sig"))
      .select(col("id"), posexplode(lshBandBuckets(col("sig"), bands, rows))
        .as(Seq("band", "bucket")))
  }

  /** Posting lists → candidate pairs, the one pair generator of every
    * inverted index here: groups `entries` by `keys`, collects each
    * group's `entry` — an id, or an id and one BIGINT payload — through
    * the size-capped [[graft.functions.CollectCapped]], drops over-cap
    * (NULL) and singleton lists, and explodes
    * [[graft.functions.SortedPairs]] into a struct column `p`: (id1, id2)
    * or (id1, b1, id2, b2), smaller id first.
    *
    * Hot-list guard: a degenerate posting list (millions of documents
    * with identical boilerplate in one bucket, a shingle in every doc)
    * would go quadratic under a self-join. The aggregate's state
    * saturates at `cap`+1 entries and an over-cap list is dropped whole
    * — it carries no pairwise signal a dedup policy can use; the O(n)
    * exact-dup path handles identical-text clusters. One groupBy (one
    * shuffle of compact key tuples) instead of a self-join's shuffles,
    * and a payload never needs a join back to a second corpus scan.
    */
  private def postingPairs(entries: DataFrame, keys: Seq[Column],
      entry: Seq[Column], cap: Int): DataFrame =
    entries.groupBy(keys: _*)
      .agg(call_function("collect_capped", entry :+ lit(cap): _*).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(call_function("sorted_pairs", col("ids"))).as("p"))

  /** Candidate pairs (id1 < id2) from shared LSH buckets; a bucket over
    * `maxBucket` ids is dropped ([[postingPairs]]).
    */
  def candidatePairs(buckets: DataFrame, maxBucket: Int = 1000): DataFrame =
    postingPairs(buckets, Seq(col("band"), col("bucket")), Seq(col("id")),
        maxBucket)
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()

  /** Jaccard verify: joins candidate (id1, id2) pairs twice to the
    * per-document shingle-hash relation of `df` and keeps the pairs with
    * exact Jaccard ≥ `threshold` over their hash sets. Each `carry`
    * (name → per-document column of `df`) rides the same relation and
    * comes out as `<name>1` and `<name>2`, after (id1, id2, jaccard).
    */
  def verifyJaccard(cands: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val hashed = df.select(Seq(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleN).as("hs")) ++
      carry.map { case (n, c) => c.as(n) }: _*)
    def side(i: Int) = hashed.select(
      Seq("id", "hs").map(c => col(c).as(s"$c$i")) ++
        carry.map { case (n, _) => col(n).as(s"$n$i") }: _*)
    cands.join(side(1), Seq("id1")).join(side(2), Seq("id2"))
      .select(Seq(col("id1"), col("id2"),
        (size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(array_union(col("hs1"), col("hs2")))).as("jaccard")) ++
        carry.flatMap { case (n, _) => Seq(col(s"${n}1"), col(s"${n}2")) }: _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Verified near-dup pairs with exact Jaccard over shingle sets. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame =
    verifyJaccard(
      candidatePairs(bucketTable(df, idCol, textCol, k, bands, shingleN)),
      df, idCol, textCol, threshold, shingleN)

  /** SimHash with banding into `chunks` bit-slices for near-dup
    * candidates (hamming distance d < chunks ⇒ at least one identical
    * chunk). The 64 bits pack into one BIGINT via the native
    * [[graft.functions.SimHash64]] kernel; chunk extraction is shift+mask.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4): DataFrame = {
    val chunkLen = 64 / chunks
    val mask = (1L << chunkLen) - 1
    val sim = call_function("simhash_text", col(textCol))
    df.select(col(idCol).as("id"), sim.as("sim"))
      .select(col("id"), col("sim"),
        array((0 until chunks).map(c =>
          shiftright(col("sim"), c * chunkLen).bitwiseAND(lit(mask))): _*)
          .as("chunks"))
  }

  /** Near-dup pairs by SimHash: candidates share a chunk slice, verified
    * by Hamming distance ≤ maxHamming via bit_count(xor) — one codegen'd
    * instruction pair per candidate.
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // Candidate pairs from one posting list per (chunk_idx, chunk_val),
    // the signature riding as payload: one corpus scan and one shuffle
    // instead of a self-join's two. An id appears at most once per
    // chunk_idx, so the (id1 < id2, equal-id-skipped) pair set is
    // exactly the self-join's. Chunk values are only 16 bits and every
    // boilerplate/exact-dup cluster shares all `chunks` of them, hence
    // the `maxBucket` cap.
    val b = simhashTable(df, idCol, textCol, chunks).select(col("id"),
      col("sim"), posexplode(col("chunks")).as(Seq("chunk_idx", "chunk_val")))
    postingPairs(b, Seq(col("chunk_idx"), col("chunk_val")),
        Seq(col("id"), col("sim")), maxBucket)
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        bit_count(col("p.b1").bitwiseXOR(col("p.b2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The exact-dup key: md5 of the lowercased, trimmed text with
    * whitespace runs collapsed to one space.
    */
  def textKey(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Exact-duplicate groups on [[textKey]]. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textKey(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** One row (n_docs, n_exact_dup_pairs): the document count and the
    * number of unordered exact-dup pairs, Σ g·(g−1)/2 over [[textKey]]
    * groups of size g — both from one aggregate, no self-join.
    */
  def exactDupPairCount(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(textKey(col(textCol)).as("text_hash")).agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(col("g")), lit(0L)).as("n_docs"),
        coalesce(sum(col("g") * (col("g") - 1) / 2), lit(0.0))
          .cast("long").as("n_exact_dup_pairs"))

  /** Distinct word n-gram shingle *strings* — the exact-Jaccard
    * verification path ([[shingleHashes]] is the hashed scale path).
    */
  def shingleSet(text: Column, n: Int = 3): Column =
    array_distinct(shingles(text, n))

  /** Exact n-gram Jaccard over every pair of a corpus slice. O(n²)
    * pairs: this is the verification-grade kernel for a *blocked*
    * candidate set — at 100 TB the pair space must be pruned first
    * (LSH bands or [[ngramJaccardPairs]]' inverted index);
    * here the blocking predicate is the caller's id bound.
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.2): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingleSet(col(textCol), shingleN).as("s"))
    sh.select(col("id").as("id1"), col("s").as("s1"))
      .join(sh.select(col("id").as("id2"), col("s").as("s2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("s1"), col("s2"))).cast("double") /
          size(array_union(col("s1"), col("s2")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding-cosine near-dup pairs, exact: norms once per row
    * (map-side, no shuffle), then a pair join verified by the native
    * dot kernel. The pair space is O(n²): every pair is scored, so the
    * answer is exact on any data.
    */
  def embedDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val w = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      call_function("vec_norm", col(vecCol)).as("nrm"))
    w.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
      .join(w.select(col("id").as("id2"), col("v").as("v2"),
        col("nrm").as("n2")), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (call_function("vec_dot", col("v1"), col("v2")) /
          (col("n1") * col("n2"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** n-gram Jaccard all-pairs via inverted index with frequent-shingle
    * suppression: a shingle in more than `maxDocFreq` docs contributes
    * no pairs ([[postingPairs]]), which caps the quadratic blowup on
    * common n-grams. One posting list per shingle: one shuffle instead
    * of a self-join's three, and the shingle scan runs once.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDocFreq: Int = 50,
      minShared: Int = 2): DataFrame = {
    // The shingle-set size rides the posting list as payload, so it
    // needs no second corpus scan and join back onto the pairs. sz joins
    // the pair groupBy key; it is functionally dependent on the id, so
    // the groups are those of (id1, id2).
    val docs = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleN).as("hs"))
    val inv = docs.select(col("id"),
      size(col("hs")).cast("long").as("sz"), explode(col("hs")).as("h"))
    postingPairs(inv, Seq(col("h")), Seq(col("id"), col("sz")), maxDocFreq)
      .groupBy(col("p.id1").as("id1"), col("p.b1").as("sz1"),
        col("p.id2").as("id2"), col("p.b2").as("sz2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("id1"), col("id2"),
        (col("shared").cast("double") /
          (col("sz1") + col("sz2") - col("shared"))).as("jaccard"))
  }
}
