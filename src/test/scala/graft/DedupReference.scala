package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Reference implementations the dedup specs check the shipped
  * operators against. */
object DedupReference {

  /** All-pairs brute-force variant of `Dedup.embeddingNearDupPairs` — exact
    * recall oracle for tests; O(n²), never the shipped query path. */
  def embeddingNearDupPairsBrute(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    val q = Similarity.prepare(emb, idCol, vecCol)
    q.as("a").join(q.as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        Similarity.cosineFrom(
          Similarity.dotQ(col("a._q"), col("b._q")),
          col("a._n2"), col("b._n2")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }
}
