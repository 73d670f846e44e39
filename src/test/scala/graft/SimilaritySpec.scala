package graft

import org.apache.spark.sql.functions.col

/** Every q_sim_* query against corpora that are not fixtures: for each
  * of six seeds, 500 Gaussian vectors of 64 dimensions. Each query must
  * return the exact cosine top-10 of vec_id 0, computed here on the
  * driver.
  */
class SimilaritySpec extends SparkSpecBase {

  private val names = Seq("q_sim_bruteforce", "q_sim_ann", "q_sim_ivf",
    "q_sim_ivfpq", "q_sim_ann_probe", "q_sim_ivf_probe")

  /** Cosine in double, summed in index order, as the vector kernels do. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  test("every q_sim_* query returns the exact top-10 on seeded Gaussian vectors") {
    val spark = this.spark
    import spark.implicits._
    val missed = (1L to 6L).flatMap { seed =>
      val rnd = new scala.util.Random(seed)
      val vecs = (0L until 500L).map(id =>
        id -> Array.fill(64)(rnd.nextGaussian().toFloat))
      val q = vecs.head._2
      val exact = vecs.tail
        .map { case (id, v) => id -> cosine(v, q) }
        .sortBy { case (id, sim) => (-sim, id) }
        .take(10)
        .map { case (id, sim) =>
          id -> BigDecimal(sim).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      val dir = GraftSession.tempDir("graft-sim-exact")
      try {
        vecs.toDF("vec_id", "embedding")
          .write.parquet(s"$dir/embeddings.parquet")
        names.flatMap { n =>
          val got = SparkEntry.queries(n)(spark, dir.toString)
            .select(col("vec_id"), col("cos_sim_r")).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
          if (got == exact) None
          else Some(s"seed $seed: $n returned $got, exact is $exact")
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    assert(missed.isEmpty, missed.mkString("; "))
  }
}
