package graft

import java.nio.file.Files

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful-restart certification — the property that makes streaming
  * state trustworthy in production: kill a stateful query between
  * micro-batches, resume from the checkpoint, and the union of pre-
  * and post-restart output must equal the one-shot run. PipelineSpec
  * proves file-SOURCE offset resume; this proves the STATE-STORE
  * recovery path (flatMapGroupsWithState per-key state + event-time
  * watermark both live in the checkpoint), including a suppression
  * decision that is only correct if cross-restart state was actually
  * recovered — losing state silently would double-emit, not error.
  */
class RestartSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  // TTL 6h throttle over hand-built events; base time well inside the
  // testdata era, UTC session
  private val TtlUs = 6L * 3600 * 1000000

  private def writeEvents(dir: String, rows: Seq[(Long, String, Long, String)]): Unit = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("user_id", "event_type", "event_id", "ts_str")
      .select(col("user_id"), col("event_type"), col("event_id"),
        to_timestamp(col("ts_str")).as("ts"))
      .coalesce(1).write.mode("append").parquet(dir)
  }

  /** One bounded drain of the throttle through the parquet file sink,
    * with its output and checkpoint under `work` (`out`, `ckpt`).
    * Returns the output dir.
    */
  private def drain(srcDir: String, work: String): String = {
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    StreamingOps.drainToParquetSink(
      StreamingOps.streamingThrottle(spark, stream, TtlUs), work)
    s"$work/out"
  }

  private def emitted(outDir: String): Set[(Long, String, Long)] =
    spark.read.parquet(outDir)
      .select("user_id", "event_type", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("throttle state survives a checkpoint restart; union == one-shot run") {
    val src = tmp("restart_src")
    val work = tmp("restart_work")

    // phase 1 (two files -> two micro-batches, in-run state exercised):
    //  u1 click t0 (emit #1), t0+1h (suppressed IN-RUN)
    //  u2 view  t0+30m (emit #2)
    val phase1a = Seq(
      (1L, "click", 10L, "2024-03-01 00:00:00"),
      (2L, "view", 20L, "2024-03-01 00:30:00"))
    val phase1b = Seq(
      (1L, "click", 11L, "2024-03-01 01:00:00"))
    writeEvents(src, phase1a)
    writeEvents(src, phase1b)
    val afterPhase1 = emitted(drain(src, work))
    assert(afterPhase1 === Set((1L, "click", 10L), (2L, "view", 20L)),
      s"phase-1 emissions wrong: $afterPhase1")

    // RESTART: the query object is gone; a NEW query resumes from the
    // checkpoint. Phase-2 rows whose suppression depends on PHASE-1
    // state:
    //  u1 click t0+2h  -> within TTL of the phase-1 emit at t0: must be
    //                     SUPPRESSED (lost state would emit it)
    //  u2 view  t0+5h  -> within TTL of t0+30m: must be SUPPRESSED
    //  u1 click t0+8h  -> beyond TTL: emit #3
    //  u3 click t0+1h  -> fresh key: emit #4
    val phase2 = Seq(
      (1L, "click", 12L, "2024-03-01 02:00:00"),
      (2L, "view", 21L, "2024-03-01 05:00:00"),
      (1L, "click", 13L, "2024-03-01 08:00:00"),
      (3L, "click", 30L, "2024-03-01 01:00:00"))
    writeEvents(src, phase2)
    val afterPhase2 = emitted(drain(src, work))
    val expected = Set(
      (1L, "click", 10L), (2L, "view", 20L),
      (1L, "click", 13L), (3L, "click", 30L))
    assert(afterPhase2 === expected, s"restart emissions wrong: $afterPhase2")
    // the state-recovery witnesses, asserted by name: these two rows
    // are suppressible ONLY by state written before the restart
    assert(!afterPhase2.contains((1L, "click", 12L)))
    assert(!afterPhase2.contains((2L, "view", 21L)))

    // ONE-SHOT oracle: same data, fresh checkpoint, single run — the
    // restarted union must hash-match it exactly
    assert(emitted(drain(src, tmp("restart_oneshot"))) === afterPhase2,
      "one-shot run diverges from the restarted union")
  }
}
