package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps its listener events with), refined by `nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, tag: String,
                      startMs: Double, endMs: Double, ok: Boolean)

/** In-memory span recorder for the calling thread. When disabled every
  * `span` call just runs its body, so the untraced run pays nothing.
  *
  * While a span is open its id sits in the SparkContext local property
  * [[Tracer.SpanKey]]; Spark copies local properties into every job it
  * submits from that thread, which is how [[JobRecorder]] attributes a
  * job to the innermost open span without guessing from timestamps. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var sc: Option[SparkContext] = None

  def attach(ctx: SparkContext): Unit = sc = Some(ctx)
  def detach(): Unit = sc = None
  def spans: Seq[Span] = done.toList
  def current: Long = stack.headOption.getOrElse(0L)

  private def publish(id: Long): Unit =
    sc.foreach(_.setLocalProperty(Tracer.SpanKey,
      if (id == 0L) null else id.toString))

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      publish(id)
      val start = nowMs
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        done += Span(id, parent, name, tag, start, nowMs, ok)
        stack = stack.tail
        publish(current)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Local properties Spark sets on the jobs of a streaming micro-batch. */
  val BatchKey = "streaming.sql.batchId"
  val QueryKey = "sql.streaming.queryId"
}

final case class JobRec(id: Int, span: Long, batch: Long, query: String,
                        submitMs: Long, endMs: Long, ok: Boolean,
                        stages: Seq[Int])

final case class StageRec(id: Int, attempt: Int, tasks: Int, failedTasks: Int,
                          runMs: Long, cpuMs: Double, gcMs: Long,
                          shuffleWrite: Long, spill: Long, bytesRead: Long,
                          bytesWritten: Long, recordsWritten: Long,
                          maxTaskMs: Long, medianTaskMs: Long)

/** SparkListener that keeps one record per job and per stage. Task ends
  * fold into their stage, so memory grows with stages, not tasks. The
  * time spent inside its callbacks is kept, as the listener's share of
  * the tracing overhead. */
final class JobRecorder extends SparkListener {
  private final class Open(var tasks: Int = 0, var failed: Int = 0,
                           var runMs: Long = 0, var cpuNs: Long = 0,
                           var gcMs: Long = 0, var shuffleWrite: Long = 0,
                           var spill: Long = 0, var bytesRead: Long = 0,
                           var bytesWritten: Long = 0,
                           var recordsWritten: Long = 0,
                           val durations: mutable.ArrayBuffer[Long] =
                             mutable.ArrayBuffer[Long]())
  private val openStages = new ConcurrentHashMap[(Int, Int), Open]()
  private val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val started = new ConcurrentHashMap[Int, JobRec]()
  private val ended = new ConcurrentHashMap[Int, JobRec]()
  @volatile private var busyNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f; busyNs += System.nanoTime() - t0
  }

  def jobs: Seq[JobRec] = ended.values().asScala.toSeq.sortBy(_.id)
  def stages: Seq[StageRec] = stageRecs.asScala.toSeq
  def listenerMs: Double = busyNs / 1e6
  def endedWithSpan(span: Long): Boolean =
    ended.values().asScala.exists(_.span == span)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    started.put(e.jobId, JobRec(e.jobId,
      prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop(Tracer.BatchKey).map(_.toLong).getOrElse(-1L),
      prop(Tracer.QueryKey).getOrElse(""),
      e.time, -1L, ok = false, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(started.remove(e.jobId)).foreach { j =>
      ended.put(e.jobId, j.copy(endMs = e.time,
        ok = e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val o = openStages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Open())
    o.synchronized {
      o.tasks += 1
      if (!e.taskInfo.successful) o.failed += 1
      o.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        o.runMs += m.executorRunTime
        o.cpuNs += m.executorCpuTime
        o.gcMs += m.jvmGCTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.bytesRead += m.inputMetrics.bytesRead
        o.bytesWritten += m.outputMetrics.bytesWritten
        o.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val o = Option(openStages.remove((si.stageId, si.attemptNumber())))
      .getOrElse(new Open())
    val d = o.durations.sorted
    stageRecs.add(StageRec(si.stageId, si.attemptNumber(), o.tasks, o.failed,
      o.runMs, o.cpuNs / 1e6, o.gcMs, o.shuffleWrite, o.spill, o.bytesRead,
      o.bytesWritten, o.recordsWritten,
      if (d.isEmpty) 0L else d.last, if (d.isEmpty) 0L else d(d.size / 2)))
  }

  /** Run a one-task job and wait until its end event arrives. Spark
    * delivers listener events in order, so once the marker job has
    * ended every earlier job and stage is recorded. */
  def barrier(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, "-1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, before)
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!endedWithSpan(-1L) && System.nanoTime() < deadline) Thread.sleep(5)
    ended.values().removeIf(_.span == -1L)
  }
}

/** Per-micro-batch progress, from the streaming listener API. */
final case class BatchProgress(queryId: String, runId: String, batchId: Long,
                               startMs: Double,
                               inputRows: Long, durations: Map[String, Long],
                               observed: Map[String, Long])

final class ProgressRecorder extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  private val started = ConcurrentHashMap.newKeySet[String]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()

  def batches(runId: String): Seq[BatchProgress] =
    buf.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
  def all: Seq[BatchProgress] = buf.asScala.toSeq
  def startedRuns: Set[String] = started.asScala.toSet

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(e.runId.toString)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId.toString)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val observed = p.observedMetrics.asScala.toSeq.flatMap { case (_, row) =>
      row.schema.fields.toSeq.zipWithIndex.collect {
        case (f, i) if !row.isNullAt(i) && f.dataType == org.apache.spark.sql.types.LongType =>
          f.name -> row.getLong(i)
      }
    }.toMap
    buf.add(BatchProgress(p.id.toString, p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      observed))
  }

  /** Block until every started query's terminated event is delivered;
    * events of one query arrive in order, so its progress is all in. */
  def awaitAllTerminated(timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = !started.asScala.forall(terminated.contains)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (pending) throw new IllegalStateException("streaming progress did not arrive")
  }
}
