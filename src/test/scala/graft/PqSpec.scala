package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** IVF-PQ: product-quantized ANN (Similarity.pqTrain/cachedIvfPq/
  * ivfPqTopKPersisted; kernels PqEncode/PqAdc). Pins the three claims
  * that make PQ the 100 TB layout: the index carries codes instead of
  * vectors, the ADC scan approximates inner products well enough that a
  * small candidate set covers the exact top-k, and the probe reads only
  * the probed cell partitions.
  */
class PqSpec extends SparkSpecBase {

  private lazy val emb = {
    GraftSession.tune(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet")
  }

  private def index: Similarity.PersistedIvfPq =
    Similarity.cachedIvfPq(spark, sfDir, "embeddings", "vec_id", "embedding",
      kCells = 16, m = 8, ksub = 16)

  test("pq codes: M bytes per row, every byte a valid codebook index") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16))
    val codes = emb.select(
        Similarity.pqEncode(col("embedding"), cb).as("c"))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_.length == 8))
    assert(codes.flatten.forall(b => (b & 0xff) < 16))
    // deterministic: same training → identical codebooks
    val cb2 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq ==
      cb2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("ADC ordering covers the exact top candidates") {
    // the property the probe actually relies on: the ADC (code-only)
    // ranking's top slice contains the exact inner-product top-k —
    // absolute ADC error is irrelevant (near-orthogonal embeddings have
    // tiny exact dots), candidate coverage is what re-rank needs
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val rows = emb.orderBy("vec_id")
      .select(col("vec_id"), col("embedding"),
        Similarity.pqEncode(col("embedding"), cb).as("code"))
      .collect()
    val q = rows.head.getSeq[Float](1).map(_.toDouble).toArray
    val lut = Similarity.pqLut(q, cb)
    def adcOf(codes: Array[Byte]): Double = {
      var s = 0.0
      var m = 0
      while (m < codes.length) { s += lut(m)(codes(m) & 0xff); m += 1 }
      s
    }
    val scored = rows.drop(1).map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), functions.VectorImpl.dot(q, v),
        adcOf(r.getAs[Array[Byte]](2)))
    }
    // the near-random fixture embeddings quantize coarsely at ksub=16,
    // so coverage is asserted at the probe's operating budget (256 —
    // what ivfPqTopKPersisted's gate parameters use), ~half the corpus
    val exactTop10 = scored.sortBy(s => (-s._2, s._1)).take(10).map(_._1).toSet
    val adcTop = scored.sortBy(s => (-s._3, s._1)).take(256).map(_._1).toSet
    assert(exactTop10.subsetOf(adcTop),
      s"ADC top-256 missed ${exactTop10 -- adcTop}")
  }

  test("persisted index holds codes + norm only — no embedding column") {
    val sch = spark.read.parquet(index.path).schema
    assert(sch.fieldNames.sorted.toSeq ==
      Seq("ivf_cell", "pq_code", "vec_id", "vnorm"))
    assert(!sch.fieldNames.contains("embedding"))
  }

  test("IVF-PQ probe + exact re-rank matches brute force exactly") {
    val got = Similarity.ivfPqTopKPersisted(spark, index, emb,
        "vec_id", "embedding", queryId = 0L, k = 10, nprobe = 6, cands = 256)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val expect = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryId = 0L, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expect, s"pq=$got brute=$expect")
  }

  test("probe reads only the nprobe cell partitions") {
    val df = Similarity.ivfPqTopKPersisted(spark, index, emb,
      "vec_id", "embedding", queryId = 0L, k = 10, nprobe = 6, cands = 256)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("ivf_cell"), p)
    assertPrunedScan(df, index.path)
  }

  test("four concurrent q_sim_ivfpq clients share one index build") {
    // a fresh copy of the corpus is a fresh cache key, so all four
    // clients ask for an index that does not exist yet
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-clients")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val query = SparkEntry.queries("q_sim_ivfpq")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Seq[Row], Seq[String])] {
          def call(): (Seq[Row], Seq[String]) = {
            start.await()
            val df = query(spark, dir.toString)
            (df.collect().toSeq, scannedPaths(df))
          }
        })
      }
      start.countDown()
      val runs = futures.map(_.get())
      val built = Similarity.cachedIvfPq(spark, dir.toString, "embeddings",
        "vec_id", "embedding", kCells = 16, m = 8, ksub = 16)
      // one build: every client probed the directory of the cached handle
      runs.foreach { case (_, roots) => assert(roots.contains(built.path), roots) }
      assert(runs.map(_._1).distinct.size == 1, runs.map(_._1))
      assert(runs.head._1.size == 10)
    } finally {
      pool.shutdown()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
