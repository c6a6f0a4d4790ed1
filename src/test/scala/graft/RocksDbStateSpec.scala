package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming state store must be the scale-safe RocksDB provider,
  * set at session build by GraftSession.builder: the default
  * HDFS-backed provider holds all state in executor heap, which caps
  * drained volume; RocksDB keeps it off-heap with disk spill. Asserts
  * the provider is ACTIVE (RocksDB custom metrics in the query
  * progress), not merely configured.
  */
class RocksDbStateSpec extends AnyFunSuite {
  import TestSpark._

  test("stateful drain runs on the RocksDB state store provider") {
    @volatile var stateMetricKeys = Set.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        e.progress.stateOperators.foreach { op =>
          stateMetricKeys = stateMetricKeys ++ op.customMetrics.keySet.asScala
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val drained = StreamingOps.drainToBatch(
        StreamingOps.hourlyCounts(StreamingOps.eventsStream(spark, sf)),
        OutputMode.Complete())
      assert(drained.count() > 0)
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        === StreamingOps.RocksDbProvider)
      // listener events are async — give the progress a moment to land
      val deadline = System.currentTimeMillis() + 10000
      while (!stateMetricKeys.exists(_.toLowerCase.contains("rocksdb")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(stateMetricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb state metrics in progress; saw: $stateMetricKeys")
    } finally spark.streams.removeListener(listener)
  }

  test("an explicit caller-chosen provider is respected, HDFS default is upgraded") {
    // GraftSession.builder replaces Spark's HDFS-backed default with
    // RocksDB at session build; a caller's later .config still wins
    val key = "spark.sql.streaming.stateStore.providerClass"
    assert(spark.conf.get(key) === StreamingOps.RocksDbProvider)
    try {
      val custom = GraftSession.builder("local[2]", "2")
        .config(key, "com.example.CustomProvider").create()
      assert(custom.conf.get(key) === "com.example.CustomProvider")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  /** A small parquet source dir of `n` rows (id, v) for the drains below. */
  private def source(n: Int): String = {
    val d = StreamingOps.tempSinkDir("graft_drain_src_")
    spark.range(n).select(col("id"), (col("id") % 3).as("v"))
      .write.mode("overwrite").parquet(s"$d/src")
    s"$d/src"
  }

  private def fileStream(src: String) =
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

  test("drainForeachBatch rethrows a failing batch and restores shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val ckpt = StreamingOps.tempSinkDir("graft_drain_fail_")
    val e = intercept[Exception] {
      StreamingOps.drainForeachBatch(fileStream(source(10)), ckpt) { (_, _) =>
        throw new IllegalStateException("batch function failed")
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("batch function failed"))),
      s"the batch function's error is not in the chain: $e")
    assert(spark.conf.get(key) === prior)
  }

  test("a drained query's offset log records 8 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    assert(prior !== "8", "the session default must differ from the drain's count")
    val work = StreamingOps.tempSinkDir("graft_drain_conf_")
    val agg = fileStream(source(10))
      .withColumn("ts", timestamp_seconds(col("id")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 second")).count()
    assert(StreamingOps.drainToParquetSink(agg, work).count() > 0)
    assert(spark.conf.get(key) === prior)
    val meta = scala.io.Source.fromFile(s"$work/ckpt/offsets/0")
    val conf = try meta.getLines().find(_.startsWith("{\"batchWatermarkMs\"")) finally meta.close()
    assert(conf.exists(_.contains("\"spark.sql.shuffle.partitions\":\"8\"")),
      s"offset log metadata: $conf")
  }
}
