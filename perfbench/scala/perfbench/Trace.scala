package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 for
  * the root. `call` is the call id the span belongs to (-1 above calls).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, call: Long = -1) {
  def dur: Long = end - start
}

/** Clock shared by harness spans and listener events: listener events
  * carry epoch milliseconds, the harness reads `nanoTime`.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

object SelfTime {

  /** Self time of every span in the tree under `root`: each instant of
    * the root's interval is charged to the deepest span covering it
    * (children clipped to their parent; when siblings overlap, the
    * earlier-started one owns the overlap). Without overlapping siblings
    * this is a span's duration minus the union of its children, and in
    * every case the self times of the tree sum to the root's duration.
    */
  def of(root: Span, children: Map[Long, Seq[Span]]): Map[Long, Long] = {
    val self = mutable.LinkedHashMap[Long, Long]()
    def go(s: Span): Unit = {
      self(s.id) = self.getOrElse(s.id, 0L)
      val kids = children.getOrElse(s.id, Nil)
        .map(k => k.copy(start = math.max(k.start, s.start), end = math.min(k.end, s.end)))
        .filter(k => k.end > k.start)
        .sortBy(k => (k.start, k.id))
      // sweep: each kid owns [max(its start, covered), its end)
      var covered = s.start
      var own = 0L
      kids.foreach { k =>
        val from = math.max(k.start, covered)
        if (k.end > from) {
          own += math.max(0L, from - covered)
          val clipped = k.copy(start = from)
          go(clipped)
          covered = k.end
        } else self(k.id) = self.getOrElse(k.id, 0L)
      }
      own += math.max(0L, s.end - covered)
      self(s.id) += own
    }
    go(root)
    self.toMap
  }
}

/** Per-call counters rolled up from Spark listener events. */
final class CallCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
  var sinkBytes = 0L
  var sinkRecords = 0L
}

/** Spark scheduler listener: job and stage spans keyed by the call id
  * the harness puts in a local property, task metrics per call, and the
  * bytes held in cached RDD blocks.
  */
final class JobListener extends SparkListener {
  final case class JobRec(call: Long, start: Long, var end: Long)
  final case class StageRec(job: Int, start: Long, var end: Long)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageCall = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  val counters = new ConcurrentHashMap[Long, CallCounters]()

  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cached = 0L
  @volatile var cachedPeak = 0L

  private def callOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Main.CallProperty)))
      .map(_.toLong).getOrElse(-1L)

  def countersOf(call: Long): CallCounters =
    counters.computeIfAbsent(call, _ => new CallCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = callOf(e.properties)
    jobs.put(e.jobId, JobRec(call, Clock.fromMillis(e.time), -1L))
    e.stageIds.foreach { s =>
      stageCall.putIfAbsent(s, call)
      stageJob.putIfAbsent(s, e.jobId)
    }
    val c = countersOf(call)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromMillis(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val call = Option(stageCall.get(info.stageId)).map(_.longValue).getOrElse(callOf(e.properties))
    val job = Option(stageJob.get(info.stageId)).map(_.intValue).getOrElse(-1)
    stages.put((info.stageId, info.attemptNumber()),
      StageRec(job, info.submissionTime.map(Clock.fromMillis).getOrElse(Clock.now()), -1L))
    val c = countersOf(call)
    c.synchronized(c.stages += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stages.get((info.stageId, info.attemptNumber()))).foreach { r =>
      r.end = info.completionTime.map(Clock.fromMillis).getOrElse(Clock.now())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val call = Option(stageCall.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    val c = countersOf(call)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        c.sinkBytes += m.outputMetrics.bytesWritten
        c.sinkRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        synchronized {
          val before = Option(blockBytes.put(key, now)).map(_.longValue).getOrElse(0L)
          cached += now - before
          if (cached > cachedPeak) cachedPeak = cached
        }
      case _ => ()
    }
  }
}

/** Structured Streaming listener: query start times and every
  * micro-batch's progress report.
  */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val started = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.put(e.runId, Clock.fromMillis(java.time.Instant.parse(e.timestamp).toEpochMilli))
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = progress.asScala.toSeq
}
