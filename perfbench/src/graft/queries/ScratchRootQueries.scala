package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q54 keeps its band index under `Queries.scratchDir`, which prefers
  * `/dev/shm`. The benchmark may only write inside its own checkout, so it
  * runs q54's body with a caller-chosen index root instead: same ops, same
  * banding, same order, checked against the same `oracleSql` string. Keep
  * it in step with `QueriesC`. */
object ScratchRootQueries {
  val Name = "q54_lsh_incremental"

  def run(s: SparkSession, d: String, root: String): DataFrame = {
    val docs = s.read.parquet(s"$d/documents.parquet")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    graft.ops.Dedup.lshIncrementalFor(s, b1.select(col("doc_id")),
      QueriesB.minhashBandsOf(b1), "doc_id", root)
    graft.ops.Dedup.lshIncrementalFor(s, b2.select(col("doc_id")),
      QueriesB.minhashBandsOf(b2), "doc_id", root)
      .orderBy(col("doc_id"))
  }
}
