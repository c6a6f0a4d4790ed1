package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ops.{Memos, Reuse}

/** One call: a registered query built, planned, executed and collected
  * in full. Times are epoch nanoseconds from [[Clock]]. `heapMb` is
  * [[Main.liveHeapMb]] at the call's end, while its result, caches and
  * memos are still held.
  */
final case class Call(id: Long, query: String, start: Long,
    built: Long, planned: Long, end: Long, rows: Long, failure: Option[String],
    releaseNs: Long, heapMb: Double, phases: Map[String, Long]) {
  def latencyNs: Long = end - start
}

/** One pass. `start` and `end` bound its span; `wallNs` is the engine's
  * share of it: the memo clear plus every call's latency and cache
  * release, without the harness's digest checks and heap readings.
  */
final case class Pass(index: Int, traced: Boolean, start: Long, end: Long,
    clearNs: Long, calls: Seq[Call]) {
  def wallNs: Long = clearNs + calls.map(c => c.latencyNs + c.releaseNs).sum
}

/** Benchmark harness. Runs one workload in a closed loop with one
  * client and prints the run's metrics as the last line of stdout.
  *
  * {{{
  * Main --workload dashboard --seed 1 --seconds 20 --trace 0
  *      --data DIR --pins FILE --cores N --tmp DIR --local-dir DIR
  *      --spans FILE
  * }}}
  */
object Main {

  val CallProperty = "perfbench.call"
  val ResultTag = "PERFBENCH_RESULT "

  /** Per-layer metrics of layers that only some workloads exercise. */
  val WorkloadSpecific: Seq[String] =
    Seq("graph.", "lsh.", "dedup.", "pca.", "bpe.", "stream.", "self.batch_ms")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, pins: String, cores: Int, tmp: String, localDir: String, spans: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("pins"), need("cores").toInt, need("tmp"), need("local-dir"), need("spans"))
  }

  def session(master: String, partitions: Int, localDir: String, warehouse: String): SparkSession = {
    val s = GraftSession.builder(master, partitions.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      // the UI is off: keep little finished-job history, so the live
      // heap measures the engine's data rather than the status store's
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Expected (rows, digest) per query at sf0.1. */
  def loadPins(path: String): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    root.get("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartNs = Clock.fromMillis(ManagementFactory.getRuntimeMXBean.getStartTime)
    val w = Workloads.byName(o.workload)
    val fns = SparkEntry.queries
    val missing = w.queries.filterNot(fns.contains)
    require(missing.isEmpty, s"workload ${w.name} names unregistered queries: ${missing.mkString(",")}")
    val memoSelf = SelfTest.memoGroupsCover(w)
    require(memoSelf.isEmpty, memoSelf.mkString("; "))
    val pins = loadPins(o.pins)

    val t0 = Clock.now()
    val spark = session(s"local[${o.cores}]", o.cores, o.localDir, s"${o.tmp}/warehouse")
    val sessionBuildNs = Clock.now() - t0

    var nextCall = 0L
    /** Runs query `q` once: timed at sf0.1 (its digest checked and the
      * heap read after it), else on the sf0.001 warm-up data.
      */
    def call(q: String, timed: Boolean, traced: Boolean): Call = {
      val dir = o.data + (if (timed) "/sf0.1" else "/sf0.001")
      val id = nextCall
      nextCall += 1
      spark.sparkContext.setLocalProperty(CallProperty, id.toString)
      val start = Clock.now()
      var built, planned = start
      var rows = 0L
      var phases = Map.empty[String, Long]
      var result: Option[(org.apache.spark.sql.types.StructType, Array[Row])] = None
      val failure = try {
        val df = fns(q)(spark, dir)
        built = Clock.now()
        if (traced) df.queryExecution.executedPlan
        planned = Clock.now()
        val collected = df.collect()
        rows = collected.length
        result = Some((df.schema, collected))
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val end = Clock.now()
      if (!traced) { built = end; planned = end }
      spark.sparkContext.setLocalProperty(CallProperty, null)
      // outside the latency window: heap reading, digest check, then
      // cache release
      val heapMb = if (timed) liveHeapMb(spark) else 0.0
      val checked = failure.orElse(result.flatMap { case (schema, collected) =>
        if (!timed) None
        else pins.get(q) match {
          case None => Some("no pinned result")
          case Some((n, d)) =>
            val got = Digest.of(schema, collected)
            if (n == collected.length && d == got) None
            else Some(s"result mismatch: ${collected.length} rows digest $got, pinned $n rows digest $d")
        }
      })
      val r0 = System.nanoTime()
      Reuse.releaseAllCaches(spark)
      Call(id, q, start, built, planned, end, rows, checked, System.nanoTime() - r0, heapMb, phases)
    }

    // ---- set-up: one warm-up pass of this workload's queries at sf0.001
    val w0 = Clock.now()
    if (w.clearMemosPerPass) Memos.clearAll()
    val warm = w.queries.sorted.map(q => call(q, timed = false, traced = false))
    val warmupNs = Clock.now() - w0
    val readyNs = Clock.now()
    warm.filter(_.failure.nonEmpty).foreach(c => println(s"perfbench: warm-up ${c.query} failed: ${c.failure.get}"))

    // ---- timed region: closed loop, one client
    val passes = mutable.ArrayBuffer[Pass]()
    val jobs = new JobListener
    val streams = new StreamListener
    def runPasses(budgetS: Double, traced: Boolean): Unit = {
      val from = Clock.now()
      var first = true
      while (first || (Clock.now() - from) / 1e9 < budgetS) {
        first = false
        val index = passes.length
        val start = Clock.now()
        val clearNs = if (w.clearMemosPerPass) {
          val c0 = System.nanoTime(); Memos.clearAll(); System.nanoTime() - c0
        } else 0L
        val calls = Workloads.order(w.queries, o.seed, index)
          .map(q => call(q, timed = true, traced))
        passes += Pass(index, traced, start, calls.last.end, clearNs, calls)
      }
    }
    val (traceRun, overhead): (Option[(Long, Long)], Option[Double]) = if (!o.trace) {
      runPasses(o.seconds, traced = false)
      (None, None)
    } else {
      // untraced, traced, untraced: the overhead ratio compares the traced
      // passes with untraced ones on both sides, so warming up over the
      // run does not read as tracing cost
      runPasses(o.seconds / 3, traced = false)
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
      val runStart = Clock.now()
      runPasses(o.seconds / 3, traced = true)
      val runEnd = Clock.now()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
      runPasses(o.seconds / 3, traced = false)
      def mean(ps: Seq[Pass]) = ps.map(_.wallNs.toDouble).sum / ps.length
      val untraced = passes.filterNot(_.traced).toSeq
      val traced = passes.filter(_.traced).toSeq
      val before = untraced.filter(_.index < traced.head.index)
      val after = untraced.filter(_.index > traced.last.index)
      (Some((runStart, runEnd)), Some(mean(traced) / ((mean(before) + mean(after)) / 2)))
    }
    val tmpBytesLeft = dirBytes(Paths.get(o.tmp))

    // ---- report
    val calls = passes.flatMap(_.calls)
    val failed = calls.filter(_.failure.nonEmpty)
    failed.groupBy(_.query).foreach { case (q, cs) =>
      println(s"perfbench: ${cs.size} failed call(s) of $q: ${cs.head.failure.get}")
    }
    val lat = calls.map(_.latencyNs / 1e6)
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> o.seed, "cores" -> o.cores,
      "passes" -> passes.length, "calls" -> calls.length,
      "error_rate" -> failed.length.toDouble / calls.length,
      "failed_queries" -> failed.map(_.query).distinct.sorted.asJava,
      "warmup_ms" -> Out.obj(warm.map(c => c.query -> c.latencyNs / 1e6)),
      "query_p50_ms" -> Out.obj(calls.groupBy(_.query).toSeq.sortBy(_._1)
        .map { case (q, cs) => q -> Stats.median(cs.map(_.latencyNs / 1e6)) }),
      "query_heap_mb" -> Out.obj(calls.groupBy(_.query).toSeq.sortBy(_._1)
        .map { case (q, cs) => q -> cs.map(_.heapMb).max }))
    detail("pass_s_each") = passes.map(_.wallNs / 1e9).asJava
    detail("latency_p50_ms") = Stats.median(lat)
    Stats.percentile(lat, 90).foreach(v => detail("latency_p90_ms") = v)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", (readyNs - jvmStartNs) / 1e9, "s"),
        ("pass_s", Stats.median(passes.map(_.wallNs / 1e9)), "s"),
        ("live_heap_mb", calls.map(_.heapMb).max, "MB"))
      else {
        val (runStart, runEnd) = traceRun.get
        val layers = new Layers(w, passes.filter(_.traced).toSeq, jobs, streams, o.cores, runStart, runEnd)
        layers.writeSpans(Paths.get(o.spans))
        detail("partition_error_ns") = layers.partitionErrorNs
        val all = Seq(
          ("session.build_ms", sessionBuildNs / 1e6, "ms"),
          ("session.warmup_ms", warmupNs / 1e6, "ms")) ++
          layers.metrics ++ Seq(
          ("reuse.cached_bytes_peak", jobs.cachedPeak.toDouble, "bytes"),
          ("tmp.bytes_left", tmpBytesLeft.toDouble, "bytes"),
          ("trace.overhead", overhead.get, "ratio"))
        // layers only some workloads reach read 0 on the others: they are
        // reported here, and the result line keeps the layers every
        // workload reaches
        val (specific, shared) = all.partition { case (n, _, _) => WorkloadSpecific.exists(n.startsWith) }
        detail("workload_layers") = Out.obj(specific.map { case (n, v, _) => n -> v })
        shared
      }
    println("perfbench-detail " + Out.write(Out.obj(detail)))
    val result = Out.obj(Seq(
      "correct" -> failed.isEmpty,
      "attempted" -> calls.length,
      "failed" -> failed.length,
      "metrics" -> Out.obj(metrics.map { case (n, v, u) => n -> Out.obj(Seq("value" -> v, "unit" -> u)) })))
    println(ResultTag + Out.write(result))
    spark.stop()
  }

  /** Heap the engine holds reachable: occupancy after a full collection,
    * summed over heap pools (`MemoryPoolMXBean.getCollectionUsage`). A
    * first collection frees the handles of broadcasts and cached RDDs
    * nothing refers to any more; their blocks then leave the block
    * manager asynchronously, so the count of held blocks is awaited
    * until it stops changing (100 ms, at most 2 s) before the collection
    * that is read.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    var last, steady = -1
    while (steady < 10 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val n = org.apache.spark.perfbench.Bus.heldBlocks(spark.sparkContext)
      steady = if (n == last) steady + 1 else 0
      last = n
    }
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => Files.size(p)).sum
      finally s.close()
    }
}

/** JSON output: objects are insertion-ordered java maps written by Jackson. */
object Out {
  private val mapper = new ObjectMapper()
  def obj(kv: Iterable[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def writePretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}
