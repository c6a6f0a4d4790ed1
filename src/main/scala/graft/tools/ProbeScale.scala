package graft.tools

import graft.Tables
import graft.ops.{DedupOps, SimilarityOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Data-dominated-regime stress probe (measurement only, not part of
  * the driver contract): replicate the sf0.1 documents/embeddings
  * tables K× with offset ids so the data term dominates the fixed
  * per-stage cost that masks slopes at bench SFs, then time the dedup
  * and similarity kernels. Replication multiplies every near-dup
  * class size by K (each doc gains K-1 exact copies), so this also
  * stresses the candidate-pair fan-out harder than an organic corpus
  * of the same size would.
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(8)
    val sfDir = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local("32")

    def t(name: String)(f: => Long): Long = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$r")
      r
    }
    def reset(): Unit = graft.ops.Reuse.releaseAllCaches(spark)

    val docs0 = Tables.documents(spark, sfDir)
    val docs = (0 until k).map(i =>
      docs0.select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
        col("text"), col("lang"), col("source")))
      .reduce(_ unionByName _)
    val emb0 = Tables.embeddings(spark, sfDir)
    val emb = (0 until k).map(i =>
      emb0.select((col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
        col("embedding"), col("label")))
      .reduce(_ unionByName _)

    println(s"[scale] K=$k docs=${docs.count()} embeddings=${emb.count()}")

    reset()
    t(s"exactDedup ${k}x")(
      DedupOps.exactDedup(docs, "doc_id", "text").count())
    reset()
    t(s"simhash pairs ${k}x")(
      DedupOps.simhashNearDuplicates(docs, "doc_id", "text", 2).count())
    reset()
    t(s"minhash pairs ${k}x")(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8).count())
    reset()
    t(s"dedupGroups dist ${k}x")(
      DedupOps.dedupGroups(docs, "doc_id", "text", 0.8, localCcMaxEdges = 0L)
        .count())
    reset()
    t(s"embed neardup LSH ${k}x")(
      SimilarityOps.lshNearDupPairs(emb, "vec_id", "embedding",
        SimilarityOps.LshConfig(bands = 6, bandBits = 6, dim = 64),
        threshold = 0.95).count())
    spark.stop()
  }
}
