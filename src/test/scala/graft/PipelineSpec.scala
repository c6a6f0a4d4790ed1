package graft

import java.nio.file.Files

import graft.ops.MultimodalOps
import graft.sinks.Sinks
import graft.sources.JsonSources
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end specs for the streaming / sink / source / multimodal
  * modules (the non-query surface of SURVEY.md §2.1, §2.9, §2.10).
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming hourly agg equals batch hourly agg") {
    val streaming = SparkEntry.queries("q_stream_hourly")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .collect().map(_.toSeq).toSet
    assert(streaming === batch)
  }

  test("streaming stateful dedup emits one row per distinct hash") {
    val res = SparkEntry.queries("q_stream_dedup")(spark, sf).collect()
    val distinctHashes = Tables.documents(spark, sf)
      .select(md5(col("text"))).distinct().count()
    assert(res.length === distinctHashes)
    assert(res.map(_.getString(0)).distinct.length === res.length)
  }

  test("TTL dedup state transitions: first-sight emits, repeat suppresses, timeout trims") {
    import graft.streaming.StreamingOps.Keyed
    class FakeState extends org.apache.spark.sql.streaming.GroupState[Long] {
      var value: Option[Long] = None
      var timedOut = false
      var removed = false
      var timeoutSet = false
      override def exists: Boolean = value.isDefined
      override def get: Long = value.get
      override def getOption: Option[Long] = value
      override def update(v: Long): Unit = { value = Some(v) }
      override def remove(): Unit = { value = None; removed = true }
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(ms: Long): Unit = { timeoutSet = true }
      override def setTimeoutDuration(d: String): Unit = { timeoutSet = true }
      override def setTimeoutTimestamp(ms: Long): Unit = ()
      override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val step = StreamingOps.dedupStep(1000L) _
    // first sight: emits min id, registers TTL
    val s1 = new FakeState
    val out1 = step("h", Iterator(Keyed("h", 7), Keyed("h", 3)), s1).toList
    assert(out1 === List(Keyed("h", 3)) && s1.value.contains(3L) && s1.timeoutSet)
    // repeat: suppressed, TTL refreshed
    val s2 = new FakeState { value = Some(3L) }
    assert(step("h", Iterator(Keyed("h", 9)), s2).isEmpty && s2.timeoutSet)
    // timeout: state trimmed, nothing emitted
    val s3 = new FakeState { value = Some(3L); timedOut = true }
    assert(step("h", Iterator.empty, s3).isEmpty && s3.removed)

    // event-time throttle transition: greedy refractory scan, each
    // emission resets the clock; out-of-order batch rows are sorted
    import StreamingOps.ThrottleRow
    def tr(id: Long, us: Long) =
      ThrottleRow(1L, "error", id, new java.sql.Timestamp(us / 1000), us)
    val tstep = StreamingOps.throttleStep(100L) _
    val s4 = new FakeState
    val out4 = tstep((1L, "error"),
      Iterator(tr(3, 250), tr(1, 0), tr(2, 99), tr(4, 100)), s4).toList
    // sorted: 0(emit) 99(skip) 100(emit, resets) 250(emit)
    assert(out4.map(_.event_id) === List(1L, 4L, 3L))
    assert(s4.value.contains(250L))
    // existing state throttles the head of the next batch
    val s5 = new FakeState { value = Some(250L) }
    assert(tstep((1L, "error"), Iterator(tr(5, 300)), s5).isEmpty)
    assert(tstep((1L, "error"), Iterator(tr(6, 350)), s5).map(_.event_id).toList === List(6L))
    // timeout branch trims state
    val s6 = new FakeState { value = Some(9L); timedOut = true }
    assert(tstep((1L, "error"), Iterator.empty, s6).isEmpty && s6.removed)
  }

  test("watermark drops late data in append-mode streaming aggregation") {
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("late")
    def write(rows: Seq[(java.sql.Timestamp, String)], f: String): Unit =
      rows.toDF("ts", "k").write.mode("overwrite").parquet(s"$dir/in/$f")
    def t(day: Int, hour: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

    new java.io.File(s"$dir/in").mkdirs()
    write(Seq((t(1), "a"), (t(1), "a"), (t(2), "a"), (t(10), "a")), "b1")
    val schema = spark.read.parquet(s"$dir/in/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in/*")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 day").as("w"), $"k")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("date").as("day"), $"n")
    val q = stream.writeStream.format("memory").queryName("late_test")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE row for day 1 (behind the day-9 watermark) and
      // fresh rows advancing the watermark past day 10
      write(Seq((t(1), "a"), (t(12), "a")), "b2")
      q.processAllAvailable()
      val out = spark.table("late_test")
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      // day-1 window was finalized with 2 rows; the late third row must
      // NOT appear (watermark dropped it)
      assert(out.get("2024-01-01").contains(2L), s"got $out")
      assert(out.get("2024-01-02").contains(1L), s"got $out")
      // day-12 window is still open (watermark = day 11) -> not emitted
      assert(!out.contains("2024-01-12"), s"got $out")
    } finally q.stop()
  }

  test("offset control: bounded triggers + checkpoint resume process each file exactly once") {
    // ST4: the reference bounds Kafka polling with max.poll.records and
    // resumes from committed offsets; the file source expresses the
    // same contract with maxFilesPerTrigger (bounded batches) and the
    // checkpoint log (exactly-once resume).
    val srcDir = tmpDir("offsets_src")
    val ckDir = tmpDir("offsets_ck")
    val outDir = tmpDir("offsets_out")
    import spark.implicits._
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"file$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema

    def drainOnce(): Long = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      batches.toLong
    }

    val batches1 = drainOnce()
    assert(batches1 === 3L, s"expected 3 bounded single-file batches, got $batches1")
    assert(spark.read.parquet(outDir).count() === 3L)

    // add one more file; resume from the checkpoint -> only the new
    // file is processed (offsets survived the restart)
    Seq((4L, "file4")).toDF("id", "tag")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val batches2 = drainOnce()
    assert(batches2 === 1L, s"resume should process exactly the new file, got $batches2")
    assert(spark.read.parquet(outDir).count() === 4L)
    assert(spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L))
  }

  test("CSV sink round-trips with header and explicit schema read") {
    val dir = tmpDir("csv_rt")
    val src = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Sinks.writeCsv(src, dir)
    val back = spark.read.option("header", "true").schema(src.schema).csv(dir)
    assert(back.count() === src.count())
    assert(back.agg(sum(col("user_id"))).head.getLong(0) ===
      src.agg(sum(col("user_id"))).head.getLong(0))
    assert(back.schema === src.schema)
  }

  test("approx_count_distinct tracks exact within tolerance") {
    val ev = Tables.events(spark, sf)
    val exact = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    val approx = ev.select(approx_count_distinct(col("user_id"), 0.02))
      .head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }

  test("foreachBatch split sink writes both partitions") {
    val out = tmpDir("split")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = StreamingOps.parquetStream(spark, s"$sf/events.parquet", schema)
    val q = StreamingOps.splitSinkQuery(
      stream, col("event_type") === "error",
      s"$out/accept", s"$out/reject", s"$out/ckpt")
    q.awaitTermination()
    val accept = spark.read.json(s"$out/accept")
    val reject = spark.read.json(s"$out/reject")
    val total = Tables.events(spark, sf).count()
    assert(accept.count() > 0)
    assert(accept.count() + reject.count() === total)
  }

  test("streaming relevance pipeline end-to-end (scan -> analyze -> split sinks)") {
    // SURVEY §3.1 lifecycle: streaming scan -> relevance column bundle
    // -> relevant/irrelevant sinks, bounded drain, progress captured.
    import graft.ops.{RelevanceOps, TextOps}
    val out = tmpDir("relpipe")
    val cap = new StreamingOps.ProgressCapture
    spark.streams.addListener(cap)
    try {
      val schema = spark.read.parquet(s"$sf/documents.parquet").schema
      val stream = StreamingOps.parquetStream(spark, s"$sf/documents.parquet", schema)
        .select(Seq(col("doc_id"), col("text")) ++
          RelevanceOps.analysisColumns(TextOps.words(col("text"))): _*)
      val q = StreamingOps.splitSinkQuery(
        stream, col("is_relevant"),
        s"$out/relevant", s"$out/irrelevant", s"$out/ckpt")
      q.awaitTermination()
      val total = Tables.documents(spark, sf).count()
      val rel = spark.read.json(s"$out/relevant").count()
      val irrelDir = new java.io.File(s"$out/irrelevant")
      val irrel =
        if (irrelDir.exists && irrelDir.listFiles().exists(_.getName.endsWith(".json")))
          spark.read.json(s"$out/irrelevant").count()
        else 0L
      assert(rel + irrel === total)
      assert(rel > 0)
      val deadline = System.currentTimeMillis() + 10000
      while (cap.totalRows == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(cap.totalRows === total)
    } finally spark.streams.removeListener(cap)
  }

  test("event table sink partitions by date and STRICTLY prunes the scan") {
    val out = tmpDir("evtbl")
    Sinks.writeEventTable(Tables.events(spark, sf), s"$out/events")
    val back = spark.read.parquet(s"$out/events")
    assert(back.count() === Tables.events(spark, sf).count())
    assert(back.schema.fieldNames.contains("event_date"))
    // pruning must be OBSERVABLE: multiple date partitions on disk
    val totalPartitions = back.select("event_date").distinct().count()
    assert(totalPartitions > 1, "need >1 date partition to observe pruning")
    val pruned = back.filter(col("event_date") === lit("2024-01-03").cast("date"))
    assert(pruned.count() > 0)
    // the 100 TB data-skipping proof, asserted strictly: the date
    // predicate must surface as a PARTITION filter on the scan node,
    // and the scan's selected-partition count must be a strict subset
    // of the directories on disk — not a data filter over a full scan.
    // (The former string-match version passed vacuously on any plan
    // whose text contained "PartitionFilters".)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec under the pruned read"))
    assert(scan.partitionFilters.nonEmpty,
      "date predicate did not become a partition filter:\n" + scan)
    val selected = scan.selectedPartitions.partitionCount
    assert(selected >= 1 && selected < totalPartitions,
      s"scan selected $selected of $totalPartitions partitions — pruning" +
        " silently stopped")
  }

  test("upsertByKey keeps the latest version per key, updates win ties") {
    val spark0 = spark
    import spark0.implicits._
    val existing = Seq((1L, 1L, "old"), (2L, 5L, "keep")).toDF("id", "v", "payload")
    val updates = Seq((1L, 2L, "new"), (1L, 2L, "newer"), (3L, 1L, "ins"))
      .toDF("id", "v", "payload")
    val merged = Sinks.upsertByKey(existing, updates, Seq("id"), "v")
      .orderBy("id").collect()
    assert(merged.length === 3)
    assert(merged(0).getString(2).startsWith("new")) // update beat existing
    assert(merged(1).getString(2) === "keep")
    assert(merged(2).getString(2) === "ins")
  }

  test("appendNewIds is left-anti on existing ids") {
    val spark0 = spark
    import spark0.implicits._
    val existing = Seq(1L, 2L).toDF("id")
    val incoming = Seq((1L, "dup"), (3L, "new")).toDF("id", "text")
    val added = Sinks.appendNewIds(existing, incoming, "id").collect()
    assert(added.map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("json dir reader handles array-JSON + JSONL and normalizes precedence") {
    val d = tmpDir("jsrc")
    Files.writeString(java.nio.file.Path.of(d, "a.json"),
      """[{"post_id":"p1","title":"t1","created_utc":"2024-01-01T00:00:00Z","score":5},
        | {"post_id":"p2","title":"t2","created_utc":"2024-01-02T00:00:00Z","score":6}]""".stripMargin)
    Files.writeString(java.nio.file.Path.of(d, "b.jsonl"),
      """{"id":"x1","text":"body1","timestamp":"2024-02-01T12:00:00Z"}
        |{"id":"x2","description":"body2","timestamp":"2024-02-02T12:00:00Z"}""".stripMargin)
    val raw = JsonSources.readJsonDir(spark, s"$d/a.json", s"$d/b.jsonl")
    assert(raw.count() === 4)
    val norm = JsonSources.normalize(raw).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(norm("p1") === "t1") // title used when text absent
    assert(norm("x1") === "body1") // text preferred
    assert(norm("x2") === "body2") // description fallback
  }

  test("multimodal feature extraction is deterministic with full schema") {
    val media = MultimodalOps.mediaFromDocuments(Tables.documents(spark, sf))
    val a = MultimodalOps.extractFeatures(media).collect().sortBy(_.media_id)
    val b = MultimodalOps.extractFeatures(media).collect().sortBy(_.media_id)
    assert(a.toSeq === b.toSeq)
    assert(a.length === Tables.documents(spark, sf).count())
    a.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.mean_byte > 0)
      assert(Set("image", "audio", "video").contains(f.kind))
    }
  }

  test("PII scrub redacts planted emails (live semantics, not just the zero-match corpus)") {
    import spark.implicits._
    import graft.queries.CurationQueries
    val planted = Seq(
      (1L, "contact Bob.Smith+spam@Example-Mail.co.uk for data"),
      (2L, "two hits a@b.io and c.d@e.org here"),
      (3L, "no pii at all")).toDF("doc_id", "text")
    // the query's own pattern — a local copy would silently go stale
    // when the pattern set grows
    val re = CurationQueries.EmailRe
    val out = planted.select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.regexp_count(
        org.apache.spark.sql.functions.lower($"text"),
        org.apache.spark.sql.functions.lit(re)).as("n"),
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.lower($"text"), re, "<EMAIL>").as("scrubbed"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out(1L)._1 === 1)
    assert(out(1L)._2 === "contact <EMAIL> for data")
    assert(out(2L)._1 === 2)
    assert(out(2L)._2 === "two hits <EMAIL> and <EMAIL> here")
    assert(out(3L) === ((0, "no pii at all")))
    // the registered query runs and returns one row per document
    val q = CurationQueries.q_pii_scrub.fn(spark, sf)
    assert(q.count() === Tables.documents(spark, sf).count())
  }

  test("codegen'd byte_stats is bit-identical to the decodeStub loop") {
    val media = MultimodalOps.mediaFromDocuments(Tables.documents(spark, sf))
    val viaStub = MultimodalOps.extractFeatures(media).collect()
      .map(f => f.media_id -> ((f.n_bytes, f.width, f.height, f.mean_byte, f.entropy_proxy)))
      .toMap
    val viaExpr = media
      .select(org.apache.spark.sql.functions.col("media_id"),
        org.apache.spark.sql.functions.expr("byte_stats(payload)").as("bs"))
      .select("media_id", "bs.n_bytes", "bs.width", "bs.height",
        "bs.mean_byte", "bs.entropy_proxy")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(viaExpr === viaStub) // exact double equality: same fold order
    // empty payload edge case: all-zero stats
    val empty = graft.functions.ByteStats.compute(Array.empty[Byte])
    assert(empty.getInt(0) === 0 && empty.getInt(1) === 0 && empty.getInt(2) === 0)
    assert(empty.getDouble(3) === 0.0 && empty.getDouble(4) === 0.0)
  }

  test("resize stub caps payload at the target budget, deterministic") {
    val media = MultimodalOps.mediaFromDocuments(
      Tables.documents(spark, sf).limit(20))
    val a = MultimodalOps.resizeStub(media, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    val b = MultimodalOps.resizeStub(media, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    assert(a === b)
    a.values.foreach(p => assert(p.length <= 64))
    assert(a.values.exists(_.length == 64)) // long docs got resampled
  }

  test("frame sampling slices payloads deterministically") {
    val media = MultimodalOps.mediaFromDocuments(
      Tables.documents(spark, sf).limit(10))
    val frames = MultimodalOps.sampleFrames(media, frames = 8, stride = 2)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    val perDoc = rows.groupBy(_.getLong(0))
    perDoc.values.foreach(g => assert(g.length <= 4)) // 8 frames stride 2
  }
}
