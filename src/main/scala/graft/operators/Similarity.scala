package graft.operators

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a single scan + TakeOrdered, no
  * shuffle of the corpus; the right answer up to ~10⁸ rows per query
  * batch. Scale path: random-hyperplane LSH — per-row signature (no
  * shuffle), bucket probe filters the corpus to a tiny candidate set
  * before exact re-ranking, so a 100 TB corpus reads only the probed
  * buckets (partition/bucket pruning on `bucket` when the table is
  * written bucketed by it).
  */
object Similarity {

  /** Double-precision dot product of two array columns, evaluated
    * strictly in index order (deterministic) by the native
    * [[graft.functions.VecDot]] kernel — one JVM loop per row instead of
    * a zip_with+aggregate lambda pipeline (matters when cosine runs over
    * millions of candidate pairs).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = call_function("vec_norm", a)

  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Brute-force cosine top-k against one query vector (taken from the
    * corpus row `queryId` — stays fully declarative via broadcast cross
    * join, no driver collect).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    df.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64 → [-1, 1)). */
  def hyperplanes(m: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] =
    graft.functions.LshImpl.hyperplanes(m, dim, seed)

  /** All `tables` m-bit sign-projection signatures in one native kernel
    * pass ([[graft.functions.LshSignatures]] — one JVM loop per row,
    * stays inside whole-stage codegen; replaces the round-2
    * aggregate∘zip_with∘transform HOF pipeline that evaluated
    * O(tables·m) interpreted lambdas per row over the whole corpus).
    */
  def lshSignatures(vec: Column, m: Int, dim: Int, tables: Int,
      seed: Long = 7L): Column =
    call_function("lsh_signatures", vec, lit(m), lit(dim), lit(tables), lit(seed))

  /** Corpus with one LSH bucket per hash table (`tables` independent
    * plane sets — the standard L-table recall boost). For the persisted
    * scale path see [[signAndWriteCorpus]].
    */
  def bucketedCorpus(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, dim: Int = 64, tables: Int = 4,
      seed: Long = 7L): DataFrame =
    df.select(col(idCol), col(vecCol),
      lshSignatures(col(vecCol), m, dim, tables, seed).as("buckets"))

  // ---- Persisted indexes. A build writes one index directory and
  // returns a handle: the directory plus the driver-side metadata its
  // probe needs. The cached* entry points build each index at most once
  // per JVM; the builds themselves are uncached (ScaleRehearsal times them).

  /** LSH index: the probe recomputes its hyperplanes from the parameters. */
  final case class PersistedLsh(path: String, m: Int, dim: Int, tables: Int,
      seed: Long)
  final case class PersistedIvf(path: String, centroids: Array[Array[Double]])
  final case class PersistedIvfPq(path: String,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]])

  /** Root of every cached index directory: created on first use, removed
    * when the JVM exits, so no run probes an index an earlier run built.
    */
  private lazy val indexRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-index")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }
  private val indexSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** (index kind, data dir, table, columns, parameters) → handle.
    * Metadata only, never rows, under the same contract as
    * `GraftSession`'s table cache: fixture dirs are immutable inputs.
    * The first caller of a key builds it outside the map's lock, so
    * builds of different indexes run in parallel; concurrent callers of
    * the same key wait for that one build. A failed build is dropped
    * (its waiters see the failure) and the next caller retries.
    */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[Seq[Any], Promise[AnyRef]]()

  private def cached[H <: AnyRef](kind: String, params: Any*)(
      build: String => H): H = {
    val key = kind +: params
    val mine = Promise[AnyRef]()
    val theirs = indexes.putIfAbsent(key, mine)
    if (theirs != null) Await.result(theirs.future, Duration.Inf).asInstanceOf[H]
    else try {
      val h = build(indexRoot.resolve(s"$kind-${indexSeq.incrementAndGet()}").toString)
      mine.success(h)
      h
    } catch {
      case e: Throwable =>
        indexes.remove(key, mine)
        mine.failure(e)
        throw e
    }
  }

  def cachedLsh(spark: SparkSession, dir: String, table: String,
      idCol: String, vecCol: String, m: Int = 8, dim: Int = 64,
      tables: Int = 4, seed: Long = 7L): PersistedLsh =
    cached("lsh", dir, table, idCol, vecCol, m, dim, tables, seed) { path =>
      signAndWriteCorpus(GraftSession.table(spark, dir, table), path, idCol,
        vecCol, m, dim, tables, seed)
    }

  def cachedIvf(spark: SparkSession, dir: String, table: String,
      idCol: String, vecCol: String, k: Int = 16): PersistedIvf =
    cached("ivf", dir, table, idCol, vecCol, k) { path =>
      ivfWriteCorpus(GraftSession.table(spark, dir, table), path, idCol,
        vecCol, k)
    }

  def cachedIvfPq(spark: SparkSession, dir: String, table: String,
      idCol: String, vecCol: String, kCells: Int = 16, m: Int = 8,
      ksub: Int = 16): PersistedIvfPq =
    cached("ivfpq", dir, table, idCol, vecCol, kCells, m, ksub) { path =>
      ivfPqWriteIndex(GraftSession.table(spark, dir, table), path, idCol,
        vecCol, kCells, m, ksub)
    }

  /** One corpus vector by id: a single-row point read with the id filter
    * pushed down, not a scan of the index (in production the query vector
    * comes from the application).
    */
  def queryVector(source: DataFrame, idCol: String, vecCol: String,
      id: Long): Array[Float] =
    source.filter(col(idCol) === id).select(col(vecCol))
      .head().getSeq[Float](0).toArray

  /** Sign the corpus once and persist it as the LSH index: one row per
    * (table, bucket) posting, written `partitionBy(tbl, bucket)` so a
    * probe's `tbl = l AND bucket IN (...)` predicate becomes partition
    * pruning — a 100 TB corpus reads only the probed buckets
    * (2^m·tables partitions; pick m so each bucket is a few files).
    * Storage is ×tables — the standard L-table LSH trade; each table is
    * its own inverted index.
    */
  def signAndWriteCorpus(df: DataFrame, path: String, idCol: String,
      vecCol: String, m: Int = 8, dim: Int = 64, tables: Int = 4,
      seed: Long = 7L): PersistedLsh = {
    bucketedCorpus(df, idCol, vecCol, m, dim, tables, seed)
      .select(col(idCol), col(vecCol),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      .write.mode("overwrite").partitionBy("tbl", "bucket").parquet(path)
    PersistedLsh(path, m, dim, tables, seed)
  }

  /** Multi-probe bucket set for one query vector: per table, the exact
    * bucket plus all Hamming-distance-1 neighbors. Driver-side over one
    * vector (tables·(m+1) ints — like fetching a point query's key).
    */
  def probeBuckets(qvec: Array[Double], m: Int, dim: Int, tables: Int,
      seed: Long = 7L): Array[Array[Int]] = {
    val sigs = graft.functions.LshImpl.signatures(
      qvec, graft.functions.LshImpl.tablePlanes(m, dim, tables, seed), m, tables)
    sigs.map(s => s +: Array.tabulate(m)(i => s ^ (1 << i)))
  }

  /** ANN top-k against a persisted LSH index: probe `tbl/bucket`
    * partitions only (partition pruning does the file skipping —
    * asserted in PlanSpec), dedupe candidate ids across tables, exact
    * cosine re-rank. No corpus re-sign, no full scan.
    */
  def annTopKPersisted(spark: SparkSession, index: PersistedLsh,
      idCol: String, vecCol: String, queryVec: Array[Float], excludeId: Long,
      k: Int): DataFrame = {
    val probes = probeBuckets(queryVec.map(_.toDouble), index.m, index.dim,
      index.tables, index.seed)
    val hit = probes.indices.map { l =>
      col("tbl") === l && col("bucket").isin(probes(l).map(Int.box): _*)
    }.reduce(_ || _)
    // r17: score BEFORE deduplicating (guide §2.3 "project before the
    // exchange"): dropDuplicates(id) compiled to Sort+SortAggregate
    // carrying the full embedding through the exchange (first() over an
    // array type is not hash-aggregable). A given id stores the same
    // vector in every probed (tbl,bucket) partition and the cosine
    // kernel is deterministic, so distinct over (id, cos_sim) keeps
    // exactly one identical row per id — same result, but the exchange
    // now moves 16 bytes/row instead of the vector and hash-aggregates.
    spark.read.parquet(index.path)
      .filter(hit && col(idCol) =!= excludeId)
      .select(col(idCol),
        cosine(col(vecCol), typedlit(queryVec.toSeq)).as("cos_sim"))
      .distinct()
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }

  /** First `sampleN` vectors in id order: the deterministic training
    * sample of both the coarse and the product quantizer (one driver
    * job; sampleN · dim doubles — not a corpus pass).
    */
  private def trainingSample(df: DataFrame, idCol: String, vecCol: String,
      sampleN: Int): Array[Array[Double]] =
    df.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Driver-side Lloyd iterations from `init`; a cell that attracts no
    * point keeps its centroid.
    */
  private def kmeans(points: Array[Array[Double]],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    var centroids = init
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      points.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** IVF (inverted-file) index: k-means coarse quantizer over a sample,
    * then every vector assigned to its nearest centroid's list. At scale
    * the corpus is written partitioned by `ivf_cell`, so a probe reads
    * only nprobe cells (partition pruning does the file skipping).
    *
    * Centroids are driver-side — they are k·dim doubles (tiny, like any
    * broadcast dimension table); assignment is a broadcast map-side pass,
    * no shuffle of the corpus. The deterministic init is the first k
    * vectors by id order, a prefix of the training sample.
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5,
      sampleN: Int = 2048): (DataFrame, Array[Array[Double]]) = {
    require(k <= sampleN, s"ivfIndex: k=$k exceeds sampleN=$sampleN")
    ivfOnSample(df, vecCol, trainingSample(df, idCol, vecCol, sampleN), k, iters)
  }

  private def ivfOnSample(df: DataFrame, vecCol: String,
      sample: Array[Array[Double]], k: Int,
      iters: Int): (DataFrame, Array[Array[Double]]) = {
    val centroids = kmeans(sample, sample.take(k), iters)
    // argmin over c of ||v-c||² ≡ argmin(||c||² - 2 c·v), one native
    // JVM loop per row (IvfAssign) — the zip_with/transform/
    // array_position HOF formulation evaluates O(k) interpreted lambdas
    // per row over the whole corpus, the known ~1000× anti-pattern
    val withCell = df.withColumn("ivf_cell",
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.IvfAssign(
          org.apache.spark.sql.graft.Bridge.expression(col(vecCol)),
          centroids.map(_.toSeq).toSeq)))
    (withCell, centroids)
  }

  private[graft] def nearestCentroid(v: Array[Double],
      cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      val cc = cs(c)
      while (i < v.length) { val t = v(i) - cc(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-`nprobe` cell ids for one query vector (driver-side over
    * k·dim doubles — the IVF analog of [[probeBuckets]]).
    */
  private[graft] def nearestCells(qVec: Array[Double],
      centroids: Array[Array[Double]], nprobe: Int): Seq[Int] =
    centroids.indices.sortBy { c =>
      var d = 0.0
      var i = 0
      while (i < qVec.length) { val t = qVec(i) - centroids(c)(i); d += t * t; i += 1 }
      d
    }.take(nprobe)

  /** Build the IVF index and persist it: the cell-assigned corpus
    * written `partitionBy("ivf_cell")` (k partitions — a probe's
    * `ivf_cell IN (...)` becomes partition pruning, so a 100 TB corpus
    * reads only nprobe/k of its files). Mirrors the LSH
    * [[signAndWriteCorpus]] treatment; build cost (driver k-means over a
    * sample + one assignment pass) is amortized over all queries.
    */
  def ivfWriteCorpus(df: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int = 16, iters: Int = 5,
      sampleN: Int = 2048): PersistedIvf = {
    val (indexed, centroids) = ivfIndex(df, idCol, vecCol, k, iters, sampleN)
    indexed.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    PersistedIvf(path, centroids)
  }

  /** IVF top-k against a persisted IVF index: the nprobe nearest cells
    * are computed driver-side from the handle's centroids and land as a
    * partition-pruning `ivf_cell IN (...)` filter; NO index rebuild, no
    * full-corpus assignment pass.
    */
  def ivfTopKPersisted(spark: SparkSession, index: PersistedIvf,
      idCol: String, vecCol: String, queryVec: Array[Float],
      excludeId: Long, k: Int, nprobe: Int): DataFrame = {
    val cells = nearestCells(queryVec.map(_.toDouble), index.centroids, nprobe)
    spark.read.parquet(index.path)
      .filter(col("ivf_cell").isin(cells: _*) && col(idCol) =!= excludeId)
      .select(col(idCol),
        cosine(col(vecCol), typedlit(queryVec.toSeq)).as("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }

  /** IVF top-k: probe the `nprobe` cells nearest to the query vector and
    * exact-rerank only those lists.
    */
  def ivfTopK(indexed: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String, queryId: Long, k: Int,
      nprobe: Int = 4): DataFrame = {
    val q = indexed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    val qVec = q.head().getSeq[Float](0).map(_.toDouble).toArray
    val cells = nearestCells(qVec, centroids, nprobe)
    indexed.filter(col("ivf_cell").isin(cells: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }

  // -------------------------------------------------------------------
  // IVF-PQ: product-quantized codes inside IVF cells (Jégou et al.,
  // TPAMI 2011) — the memory-resident ANN layout at 100 TB: the
  // persisted index row is (id, M-byte code, norm), 32× smaller than
  // the float vectors for dim 64 / M 8, so a probe scans a few KB per
  // thousand candidates and only the final re-rank touches exact
  // vectors (a candidate-id join against the source table — point
  // reads under a primary-key layout at scale).
  // -------------------------------------------------------------------

  /** Train per-subspace codebooks: the vector's M contiguous slices are
    * k-means-quantized independently (ksub centroids each) over the
    * same deterministic sample and Lloyd loop as [[ivfIndex]].
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      ksub: Int = 16, iters: Int = 5,
      sampleN: Int = 2048): Array[Array[Array[Double]]] =
    pqOnSample(trainingSample(df, idCol, vecCol, sampleN), m, ksub, iters)

  private def pqOnSample(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val init = sub.map(_.toSeq).distinct.take(ksub).map(_.toArray)
      kmeans(sub, init ++ Array.fill(ksub - init.length)(init.head), iters)
    }
  }

  /** M-byte PQ code column (native [[graft.functions.PqEncode]]). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        codebooks.map(_.map(_.toSeq).toSeq).toSeq))

  /** Query-side ADC lookup table: `lut(m)(j)` = query slice m · centroid
    * j — Σ over slices then approximates the full inner product.
    */
  private[graft] def pqLut(qVec: Array[Double],
      codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val m = codebooks.length
    val dsub = qVec.length / m
    Array.tabulate(m) { s =>
      val qs = java.util.Arrays.copyOfRange(qVec, s * dsub, (s + 1) * dsub)
      codebooks(s).map(c => graft.functions.VectorImpl.dot(qs, c))
    }
  }

  /** Build and persist the IVF-PQ index: coarse k-means cells
    * ([[ivfIndex]]) + per-subspace codebooks ([[pqTrain]]), both trained
    * on one fetched sample, corpus written `partitionBy("ivf_cell")`
    * carrying ONLY (id, pq_code, vnorm) — the float vectors never enter
    * the index.
    */
  def ivfPqWriteIndex(df: DataFrame, path: String, idCol: String,
      vecCol: String, kCells: Int = 16, m: Int = 8, ksub: Int = 16,
      iters: Int = 5, sampleN: Int = 2048): PersistedIvfPq = {
    require(kCells <= sampleN,
      s"ivfPqWriteIndex: kCells=$kCells exceeds sampleN=$sampleN")
    val sample = trainingSample(df, idCol, vecCol, sampleN)
    val (indexed, centroids) = ivfOnSample(df, vecCol, sample, kCells, iters)
    val codebooks = pqOnSample(sample, m, ksub, iters)
    indexed.select(col(idCol), col("ivf_cell"),
        pqEncode(col(vecCol), codebooks).as("pq_code"),
        l2Norm(col(vecCol)).as("vnorm"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    PersistedIvfPq(path, centroids, codebooks)
  }

  /** IVF-PQ top-k against a persisted IVF-PQ index: nearest-nprobe cells
    * from the handle's centroids → partition-pruned scan of the code
    * column scoring `pq_adc / (|q|·vnorm)` (approximate cosine; M table
    * lookups per row, no vectors) → top-`cands` candidate ids →
    * broadcast join back to the source for the exact cosine re-rank of
    * the final k. `cands` trades recall for re-rank cost; the gate query
    * pins parameters where the candidate set provably covers the exact
    * top-k on the fixture corpus.
    */
  def ivfPqTopKPersisted(spark: SparkSession, index: PersistedIvfPq,
      source: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nprobe: Int = 6, cands: Int = 64): DataFrame = {
    val qVec = queryVector(source, idCol, vecCol, queryId)
    val qD = qVec.map(_.toDouble)
    val cells = nearestCells(qD, index.centroids, nprobe)
    val lut = pqLut(qD, index.codebooks)
    val qNorm = math.sqrt(graft.functions.VectorImpl.dot(qD, qD))
    val adc = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqAdc(
        org.apache.spark.sql.graft.Bridge.expression(col("pq_code")),
        lut.map(_.toSeq).toSeq))
    val candidates = spark.read.parquet(index.path)
      .filter(col("ivf_cell").isin(cells: _*) && col(idCol) =!= queryId)
      .select(col(idCol), (adc / (lit(qNorm) * col("vnorm"))).as("adc_sim"))
      .orderBy(desc_nulls_last("adc_sim"), col(idCol))
      .limit(cands)
      .select(col(idCol))
    source.join(broadcast(candidates), idCol)
      .select(col(idCol),
        cosine(col(vecCol), typedlit(qVec.toSeq)).as("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }

  /** ANN top-k: for each of the L tables, probe the query's bucket plus
    * all Hamming-distance-1 buckets (multi-probe); union the candidates;
    * exact cosine re-rank on candidates only.
    *
    * The probe arrays (tables arrays of m+1 buckets) are materialized in
    * the single broadcast query row — each corpus row then pays `tables`
    * native `array_contains` lookups, all inside whole-stage codegen.
    * (The round-3 form re-derived the probe set per corpus row via a
    * `transform(sequence(0,m), …)` HOF — tables·(m+1) interpreted lambda
    * evals per row, the known ~1000× anti-pattern.)
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 8, dim: Int = 64,
      tables: Int = 4, seed: Long = 7L): DataFrame = {
    val corpus = bucketedCorpus(df, idCol, vecCol, m, dim, tables, seed)
    val qRow = corpus.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"),
        array((0 until tables).map { l =>
          val qb = element_at(col("buckets"), l + 1)
          array(qb +: (0 until m).map(i => qb.bitwiseXOR(lit(1 << i))): _*)
        }: _*).as("__probes"))
    val hit = (0 until tables).map { l =>
      array_contains(element_at(col("__probes"), l + 1),
        element_at(col("buckets"), l + 1))
    }.reduce(_ || _)
    corpus.crossJoin(broadcast(qRow))
      .filter(col(idCol) =!= queryId && hit)
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cos_sim"))
      .orderBy(desc_nulls_last("cos_sim"), col(idCol))
      .limit(k)
  }
}
