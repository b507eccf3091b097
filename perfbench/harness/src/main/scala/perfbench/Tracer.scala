package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are milliseconds since
  * the tracer's origin. `parent` is -1 for a root and -2 when the parent
  * is to be found by time containment (GC pauses, planning phases,
  * micro-batches and unattributed jobs: their events carry no caller). */
final class Span(val id: Long, val parent: Long, val name: String,
    val layer: String, val pass: Int, val unit: Int, val start: Double,
    @volatile var end: Double) {
  val attrs = TrieMap.empty[String, Double]
}

/** Spans and counters of one benchmark run, kept in memory and written
  * once at the end. The job counter is always on (it is the measured
  * runs' only probe); everything else records only while `tracing`. */
final class Tracer(spark: SparkSession, traceable: Boolean) {
  private val sc = spark.sparkContext
  private val originNanos = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  private val jvmStartEpochMs =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Spark jobs started so far (the untraced runs' only counter). */
  val jobs = new AtomicLong(0)
  @volatile var tracing = false

  def now(): Double = (System.nanoTime() - originNanos) / 1e6
  private def fromEpoch(ms: Double): Double = ms - originEpochMs

  // the innermost open harness span per thread; spark jobs find their
  // parent through the inherited local property set from it
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val byId = TrieMap.empty[Long, Span]
  private val PropSpan = "perfbench.span"

  def begin(name: String, layer: String, pass: Int, unit: Int): Span = {
    val parent = open.get.headOption.map(_.id).getOrElse(-1L)
    val s = new Span(nextId.getAndIncrement(), parent, name, layer, pass,
      unit, now(), Double.NaN)
    open.set(s :: open.get)
    byId.put(s.id, s)
    sc.setLocalProperty(PropSpan, s.id.toString)
    s
  }

  def finish(s: Span): Unit = {
    s.end = now()
    open.set(open.get.dropWhile(_ ne s).drop(1))
    sc.setLocalProperty(PropSpan, open.get.headOption.map(_.id.toString).orNull)
    if (tracing) spans.add(s)
  }

  def span[T](name: String, layer: String, pass: Int, unit: Int)(f: => T): T = {
    val s = begin(name, layer, pass, unit)
    try f finally finish(s)
  }

  private def add(name: String, layer: String, parent: Option[Span],
      start: Double, end: Double): Span = {
    val s = new Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(-2L),
      name, layer, parent.map(_.pass).getOrElse(-1),
      parent.map(_.unit).getOrElse(-1), start, end)
    spans.add(s)
    s
  }

  // ---- spark: jobs, stages, tasks ----
  private val jobSpans = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Span]
  private val stageAcc = TrieMap.empty[(Int, Int), TrieMap[String, Double]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (tracing) {
        val parent = Option(e.properties)
          .flatMap(p => Option(p.getProperty(PropSpan)))
          .flatMap(id => byId.get(id.toLong))
        val s = add("job", "spark", parent, fromEpoch(e.time.toDouble),
          Double.NaN)
        jobSpans.put(e.jobId, s)
        e.stageIds.foreach(id => stageJob.putIfAbsent(id, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach(_.end = fromEpoch(e.time.toDouble))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
      val m = e.taskMetrics
      val acc = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId),
        TrieMap.empty[String, Double])
      def inc(k: String, v: Double): Unit = acc.synchronized {
        acc.put(k, acc.getOrElse(k, 0.0) + v)
      }
      inc("tasks", 1)
      if (m != null) {
        inc("task_run_ms", m.executorRunTime.toDouble)
        inc("task_deser_ms", m.executorDeserializeTime.toDouble)
        inc("task_gc_ms", m.jvmGCTime.toDouble)
        inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        inc("shuffle_read_bytes", (m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead).toDouble)
        inc("spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tracing) {
        val i = e.stageInfo
        val acc = stageAcc.remove((i.stageId, i.attemptNumber()))
          .getOrElse(TrieMap.empty[String, Double])
        val start = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
        val end = i.completionTime.map(_.toDouble).getOrElse(start)
        val s = add("stage", "spark", stageJob.get(i.stageId),
          fromEpoch(start), fromEpoch(end))
        acc.foreach { case (k, v) => s.attrs.put(k, v) }
      }
  }

  // ---- spark: planning phases of every action ----
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (tracing) {
      qe.tracker.phases.foreach { case (phase, ps) =>
        add(s"plan.$phase", "spark", None, fromEpoch(ps.startTimeMs.toDouble),
          fromEpoch(ps.endTimeMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  // ---- streaming: one span per micro-batch with its progress phases ----
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val start = fromEpoch(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        val s = add("microbatch", "streaming", None, start,
          start + d.getOrElse("triggerExecution", 0.0))
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => s.attrs.put(k, d.getOrElse(k, 0.0)))
        val ops = p.stateOperators
        s.attrs.put("state_rows", ops.map(_.numRowsTotal.toDouble).sum)
        s.attrs.put("state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
        s.attrs.put("state_mem_bytes", ops.map(_.memoryUsedBytes.toDouble).sum)
      }
  }

  // ---- jvm: every collector pause ----
  private val gcHandler = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification,
        hb: AnyRef): Unit = if (tracing && n.getType ==
        com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val g = info.getGcInfo
      val start = fromEpoch(jvmStartEpochMs + g.getStartTime)
      add("gc", "jvm", None, start, start + g.getDuration)
    }
  }

  sc.addSparkListener(sparkListener)
  if (traceable) {
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(gcHandler, null, null)
      case _ => ()
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  /** GC (count, ms) totals of this JVM so far. */
  def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount.max(0L)).sum, bs.map(_.getCollectionTime.max(0L)).sum)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}
