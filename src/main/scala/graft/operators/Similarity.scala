package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nearest-neighbour search over an embedding column (`Array[Float]`):
  * exact cosine top-k by one scan + TakeOrdered, no shuffle of the
  * corpus. An index could only skip work where a bound proves the rest
  * cannot enter the top-k; on the 64-dimensional corpora here no
  * cell-radius bound prunes anything, so every query scans.
  */
object Similarity {

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
}
