package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced passes, and their span tree
  * `run → pass → call → {build, plan, exec} → [batch] → job → stage`.
  * Every metric is summed per pass; the reported value is the median
  * across passes.
  */
final class Layers(w: Workload, passes: Seq[Pass], jobs: JobListener,
    streams: StreamListener, cores: Int, runStart: Long, runEnd: Long) {

  private val spans = mutable.ArrayBuffer[Span]()
  private def add(parent: Long, kind: String, name: String, start: Long, end: Long, call: Long): Span = {
    val s = Span(spans.length.toLong, parent, kind, name, start, math.max(start, end), call)
    spans += s
    s
  }

  private val calls: Seq[Call] = passes.flatMap(_.calls)
  private val root = add(-1, "run", w.name, runStart, runEnd, -1)
  private val callSpan = mutable.LinkedHashMap[Long, Span]()
  private val phaseSpans = mutable.LinkedHashMap[Long, Seq[Span]]()
  passes.foreach { p =>
    val ps = add(root.id, "pass", s"pass${p.index}", p.start, p.end, -1)
    p.calls.foreach { c =>
      val cs = add(ps.id, "call", c.query, c.start, c.end, c.id)
      callSpan(c.id) = cs
      phaseSpans(c.id) = Seq(
        add(cs.id, "build", c.query, c.start, c.built, c.id),
        add(cs.id, "plan", c.query, c.built, c.planned, c.id),
        add(cs.id, "exec", c.query, c.planned, c.end, c.id))
    }
  }

  private def callAt(t: Long): Option[Call] = calls.find(c => c.start <= t && t <= c.end)

  /** The phase of `call` holding instant `t`, else the nearest one. */
  private def phaseAt(call: Long, t: Long): Span =
    phaseSpans(call).minBy(s => if (s.start <= t && t <= s.end) -1L else math.min(math.abs(s.start - t), math.abs(s.end - t)))

  // streaming micro-batches, under the phase of the call they ran in
  private val batches: Seq[(StreamingQueryProgress, Span)] = streams.batches.flatMap { b =>
    val start = Clock.fromMillis(java.time.Instant.parse(b.timestamp).toEpochMilli)
    val dur = Option(b.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    callAt(start).map { c =>
      b -> add(phaseAt(c.id, start).id, "batch", s"${b.name}#${b.batchId}", start, start + Clock.fromMillis(dur), c.id)
    }
  }.sortBy(_._2.start)

  // jobs under the batch or phase they started in; stages under their job
  private val jobSpans: Map[Int, Span] = jobs.jobs.asScala.toSeq.sortBy(_._1).collect {
    case (id, j) if callSpan.contains(j.call) =>
      val c = callSpan(j.call)
      val end = if (j.end < 0) c.end else j.end
      val parent = batches.collectFirst {
        case (_, b) if b.call == j.call && b.start <= j.start && j.start <= b.end => b
      }.getOrElse(phaseAt(j.call, j.start))
      id -> add(parent.id, "job", s"job$id", j.start, end, j.call)
  }.toMap
  jobs.stages.asScala.toSeq.sortBy(_._1).foreach { case ((sid, att), s) =>
    jobSpans.get(s.job).foreach { js =>
      add(js.id, "stage", s"stage$sid.$att", s.start, if (s.end < 0) js.end else s.end, js.call)
    }
  }

  private val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** Self time of every span under each call. */
  private val selfNs: Map[Long, Long] = callSpan.values.flatMap(cs => SelfTime.of(cs, children)).toMap

  /** Σ over calls of |Σ self times − call wall time|; 0 when self times partition calls. */
  val partitionErrorNs: Long = callSpan.values.map { cs =>
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    math.abs(subtree(cs).map(s => selfNs.getOrElse(s.id, 0L)).sum - cs.dur)
  }.sum

  /** Phase ("build"/"plan"/"exec") a span sits under. */
  private def phaseOf(s: Span): String =
    if (Set("build", "plan", "exec").contains(s.kind)) s.kind
    else byId.get(s.parent).map(phaseOf).getOrElse("")

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var open = false
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > reach) { total += b - a; reach = b; open = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  private def passMetrics(p: Pass): Seq[(String, Double, String)] = {
    val ids = p.calls.map(_.id).toSet
    val counters = p.calls.map(c => Option(jobs.counters.get(c.id)).getOrElse(new CallCounters))
    def sumC(f: CallCounters => Long): Double = counters.map(f).sum.toDouble
    val mine = spans.filter(s => ids.contains(s.call)).toSeq
    def ms(ns: Long): Double = ns / 1e6
    def selfOf(kind: String): Double = ms(mine.filter(_.kind == kind).map(s => selfNs.getOrElse(s.id, 0L)).sum)
    val jobSpansHere = mine.filter(_.kind == "job")
    val driverGap = p.calls.map { c =>
      val cs = callSpan(c.id)
      cs.dur - union(jobSpansHere.filter(_.call == c.id).map(j => (math.max(j.start, cs.start), math.min(j.end, cs.end))).filter(x => x._2 > x._1))
    }.sum
    def family(f: String) = p.calls.filter(c => w.family.get(c.query).contains(f))
    def familyJobs(f: String) = family(f).map(c => jobSpansHere.count(_.call == c.id)).sum.toDouble
    // memo fill = first consumer of a group in the pass, hit = the rest
    val groupOf = Workloads.memoGroupOf(w.queries)
    val seen = mutable.Set[String]()
    var fill, hit = 0L
    p.calls.foreach { c =>
      groupOf.get(c.query).foreach { g =>
        if (seen.add(g)) fill += c.latencyNs else hit += c.latencyNs
      }
    }
    val bs = batches.filter(b => ids.contains(b._2.call)).map(_._1)
    def dur(k: String) = bs.map(b => Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val lastByRun = bs.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val startMs = bs.groupBy(_.runId).toSeq.flatMap { case (run, b) =>
      Option(streams.started.get(run)).map { st =>
        ms(Clock.fromMillis(java.time.Instant.parse(b.minBy(_.batchId).timestamp).toEpochMilli) - st)
      }
    }.sum
    val ops = bs.flatMap(_.stateOperators)
    val lastOps = lastByRun.flatMap(_.stateOperators)
    Seq(
      ("trace.pass_s", p.wallNs / 1e9, "s"),
      ("queries.build_ms", ms(p.calls.map(c => c.built - c.start).sum), "ms"),
      ("queries.build_jobs", jobSpansHere.count(j => phaseOf(j) == "build").toDouble, "count"),
      ("plan.analysis_ms", p.calls.map(_.phases.getOrElse("analysis", 0L)).sum.toDouble, "ms"),
      ("plan.optimization_ms", p.calls.map(_.phases.getOrElse("optimization", 0L)).sum.toDouble, "ms"),
      ("plan.planning_ms", p.calls.map(_.phases.getOrElse("planning", 0L)).sum.toDouble, "ms"),
      ("exec.ms", ms(p.calls.map(c => c.end - c.planned).sum), "ms"),
      ("exec.jobs", sumC(_.jobs), "count"),
      ("exec.stages", sumC(_.stages), "count"),
      ("exec.tasks", sumC(_.tasks), "count"),
      ("exec.task_run_ms", sumC(_.taskRunMs), "ms"),
      ("exec.task_cpu_ms", sumC(_.taskCpuNs) / 1e6, "ms"),
      ("exec.gc_ms", sumC(_.gcMs), "ms"),
      ("exec.core_busy_frac", sumC(_.taskRunMs) / (ms(p.wallNs) * cores), "ratio"),
      ("exec.driver_gap_ms", ms(driverGap), "ms"),
      ("exec.shuffle_write_bytes", sumC(_.shuffleWrite), "bytes"),
      ("exec.shuffle_read_bytes", sumC(_.shuffleRead), "bytes"),
      ("exec.spill_bytes", sumC(_.spill), "bytes"),
      ("exec.result_rows", p.calls.map(_.rows).sum.toDouble, "count"),
      ("exec.result_bytes", sumC(_.resultBytes), "bytes"),
      ("graph.call_ms", ms(family("graph").map(_.latencyNs).sum), "ms"),
      ("graph.jobs", familyJobs("graph"), "count"),
      ("lsh.call_ms", ms(family("lsh").map(_.latencyNs).sum), "ms"),
      ("lsh.jobs", familyJobs("lsh"), "count"),
      ("dedup.call_ms", ms(family("dedup").map(_.latencyNs).sum), "ms"),
      ("dedup.jobs", familyJobs("dedup"), "count"),
      ("pca.call_ms", ms(family("pca").map(_.latencyNs).sum), "ms"),
      ("bpe.call_ms", ms(family("bpe").map(_.latencyNs).sum), "ms"),
      ("memo.fill_ms", ms(fill), "ms"),
      ("memo.hit_ms", ms(hit), "ms"),
      ("memo.clear_ms", ms(p.clearNs), "ms"),
      ("reuse.release_ms", ms(p.calls.map(_.releaseNs).sum), "ms"),
      ("stream.batches", bs.length.toDouble, "count"),
      ("stream.input_rows", bs.map(_.numInputRows).sum.toDouble, "count"),
      ("stream.start_ms", startMs, "ms"),
      ("stream.trigger_ms", dur("triggerExecution"), "ms"),
      ("stream.add_batch_ms", dur("addBatch"), "ms"),
      ("stream.planning_ms", dur("queryPlanning"), "ms"),
      ("stream.wal_commit_ms", dur("walCommit"), "ms"),
      ("stream.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("stream.latest_offset_ms", dur("latestOffset"), "ms"),
      ("stream.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms"),
      ("stream.state_rows", lastOps.map(_.numRowsTotal).sum.toDouble, "count"),
      ("stream.state_bytes", lastOps.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      ("stream.state_stores", lastOps.map(_.numStateStoreInstances.toLong).sum.toDouble, "count"),
      ("stream.late_rows_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      ("sink.bytes_written", sumC(_.sinkBytes), "bytes"),
      ("sink.records_written", sumC(_.sinkRecords), "count"),
      ("self.build_ms", selfOf("build"), "ms"),
      ("self.plan_ms", selfOf("plan"), "ms"),
      ("self.exec_ms", selfOf("exec"), "ms"),
      ("self.batch_ms", selfOf("batch"), "ms"),
      ("self.job_ms", selfOf("job"), "ms"),
      ("self.stage_ms", selfOf("stage"), "ms"))
  }

  /** Median across traced passes of each per-pass metric. */
  def metrics: Seq[(String, Double, String)] = {
    val per = passes.map(passMetrics)
    per.head.indices.map { i =>
      val (name, _, unit) = per.head(i)
      (name, Stats.median(per.map(_(i)._2)), unit)
    }
  }

  /** Every span as one JSON object per line. */
  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, spans.map { s =>
      Out.write(Out.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "call" -> s.call, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> selfNs.getOrElse(s.id, s.dur - union(children.getOrElse(s.id, Nil).map(k => (k.start, k.end)))))))
    }.asJava)
  }
}
