package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic per-epoch training-data ordering at deploy scale —
  * the distributed formulation of q_epoch_shuffle's certified rank
  * (reference provenance: the reference shuffles training batches
  * driver-side in its consumers, e.g. `relevance_consumer.py`'s
  * batch assembly; here the permutation is a corpus-scale operator).
  *
  * The certification-scale form ranks h(doc_id, epoch) with ONE window
  * per epoch — a single-partition sort per epoch, fine at sf0.01 and
  * a non-starter at 100 TB. The deploy form here is the classic
  * distributed permutation:
  *
  *   1. RANGE-partition by the full sort key (epoch, hv, doc_id) and
  *      sort within partitions — Spark's orderBy machinery, sampled
  *      boundaries, no single reducer;
  *   2. persist the partitioned run (Reuse.materializedHandle — the
  *      offsets pass and the position pass MUST see the same physical
  *      partitioning; at deploy scale this is the staged shuffle file);
  *   3. ONE bounded pass computes per-(partition, epoch) row counts —
  *      at most numPartitions·|epochs| rows collected, never data-scale;
  *   4. the driver turns counts into exclusive prefix OFFSETS, and a
  *      mapPartitions pass assigns pos = offset(pid, epoch) + local
  *      running index — purely sequential per-partition arithmetic,
  *      zero further shuffles.
  *
  * Global positions are therefore exact ROW_NUMBER semantics (the
  * range partitioner orders partitions by key; within a partition rows
  * are sorted; offsets splice the runs), certified against the same
  * window-rank oracle as q_epoch_shuffle. The sort key is unique per
  * epoch (doc_id is unique), so boundary placement of equal keys never
  * arises; RangePartitioner's reservoir sampling is seeded per
  * partition index (byteswap32), so recomputation under cache eviction
  * reproduces identical boundaries.
  */
object EpochOps {

  private val M = 2147483647L // Mersenne 2^31-1: exact BIGINT algebra

  /** The scrambled epoch hash, shared with the window form: reduce the
    * id BEFORE the multiply so both engines stay inside exact 64-bit
    * integer range.
    */
  def epochHash(idCol: org.apache.spark.sql.Column,
      epochCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (pmod(pmod(idCol, lit(M)) * lit(2654435761L), lit(M)) +
      epochCol * lit(2246822519L)) % lit(M)

  /** Distributed per-epoch positions for `ids` × `epochs`:
    * (epoch, doc_id, pos) with pos = 1-based rank of (hv, doc_id)
    * within the epoch. `numPartitions` is the deploy knob — positions
    * are partitioning-invariant (the certified contract).
    */
  def epochOrderDistributed(
      spark: SparkSession, ids: DataFrame, idCol: String,
      epochs: Seq[Long], numPartitions: Int): DataFrame = {
    import spark.implicits._
    val hashed = orderedRuns(spark, ids, idCol, epochs, numPartitions)
    val (mat, _) = Reuse.materializedHandle(hashed)
    // bounded offsets pass: ≤ numPartitions·|epochs| rows ever reach
    // the driver (32·3 here; 10k·few at cluster scale) — the PageRank
    // bounded-collect class, not a data-scale collect
    val counts = mat
      .groupBy(spark_partition_id().as("pid"), col("epoch"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // exclusive prefix sums in ONE linear scan per epoch (sort by
    // (epoch, pid), then running sum) — the naive per-key rescan is
    // O((partitions·epochs)²) driver time, minutes at the scaladoc's
    // 10k-partition cluster scale
    val offsets: Map[(Int, Long), Long] = counts.toSeq
      .sortBy { case ((pid, ep), _) => (ep, pid) }
      .foldLeft((Map.empty[(Int, Long), Long], Long.MinValue, 0L)) {
        case ((acc, curEp, running), ((pid, ep), n)) =>
          val base = if (ep == curEp) running else 0L
          (acc + ((pid, ep) -> base), ep, base + n)
      }._1
    val bc = spark.sparkContext.broadcast(offsets)
    mat.as[(Long, Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var curEpoch = Long.MinValue
      var pos = 0L
      it.map { case (epoch, docId, _) =>
        if (epoch != curEpoch) {
          curEpoch = epoch
          pos = bc.value.getOrElse((pid, epoch), 0L)
        }
        pos += 1L
        (epoch, docId, pos)
      }
    }.toDF("epoch", "doc_id", "pos")
  }

  /** The range-partitioned, partition-sorted (epoch, doc_id, hv) runs —
    * exposed so PlanSpec can assert the deploy shape (RangePartitioning
    * exchange, no Window) on the plan that actually shuffles the data.
    */
  def orderedRuns(
      spark: SparkSession, ids: DataFrame, idCol: String,
      epochs: Seq[Long], numPartitions: Int): DataFrame = {
    import spark.implicits._
    val eps = broadcast(epochs.toDF("epoch"))
    ids.select(col(idCol).cast("long").as("doc_id"))
      .crossJoin(eps)
      .withColumn("hv", epochHash(col("doc_id"), col("epoch")))
      .select(col("epoch"), col("doc_id"), col("hv"))
      .repartitionByRange(numPartitions, col("epoch"), col("hv"), col("doc_id"))
      .sortWithinPartitions(col("epoch"), col("hv"), col("doc_id"))
  }
}
