package graft

import graft.streaming.StreamingOps
import org.scalatest.funsuite.AnyFunSuite

/** The per-batch parquet sink's read-back: [[StreamingOps.readBatchDirs]]
  * returns exactly the `batch_<n>` directories written by
  * [[StreamingOps.writeBatchDir]], whatever else shares the output dir.
  */
class StreamingOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("readBatchDirs unions the batch_<n> dirs and ignores non-batch siblings") {
    val out = StreamingOps.tempSinkDir("graft_batch_dirs_")
    StreamingOps.writeBatchDir(Seq(1L, 2L).toDF("id"), out, 0L)
    StreamingOps.writeBatchDir(Seq(3L).toDF("id"), out, 1L)
    StreamingOps.writeBatchDir(Seq(4L, 5L).toDF("id"), out, 10L)
    // siblings a sink dir can hold: a checkpoint, a non-numeric suffix
    Seq(99L).toDF("id").write.parquet(s"$out/_ckpt")
    Seq(98L).toDF("id").write.parquet(s"$out/batch_tmp")
    val got = StreamingOps.readBatchDirs(spark, out)
      .as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("readBatchDirs keeps the schema argument and fails on a dir with no batches") {
    val out = StreamingOps.tempSinkDir("graft_batch_dirs_")
    val schema = new org.apache.spark.sql.types.StructType().add("id", "long")
    StreamingOps.writeBatchDir(Seq.empty[Long].toDF("id"), out, 0L)
    StreamingOps.writeBatchDir(Seq(7L).toDF("id"), out, 1L)
    val got = StreamingOps.readBatchDirs(spark, out, Some(schema))
    assert(got.schema === schema)
    assert(got.as[Long].collect().toSeq === Seq(7L))
    val empty = StreamingOps.tempSinkDir("graft_batch_dirs_")
    intercept[org.apache.spark.sql.AnalysisException] {
      StreamingOps.readBatchDirs(spark, empty, Some(schema)).collect()
    }
  }
}
