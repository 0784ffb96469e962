package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the traced run.
  *
  * A span is opened by the benchmark around each call it makes into a
  * layer (a replay, a merge, a read, a query). Spark's own listener events
  * are credited to the span that was open on the submitting thread: the
  * span id rides as a Spark local property, which Spark copies into the
  * jobs a thread submits and into threads it starts (the streaming
  * micro-batch thread inherits the replay span). Nothing is written until
  * [[json]] is called at the end of the run.
  *
  * `Trace.off` records nothing and attaches no listener, so the untraced
  * runs that produce the end-to-end numbers pay no tracing cost.
  */
class Trace private (spark: Option[SparkSession]) {
  import Trace._

  final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
    @volatile var endNs: Long = -1L
    val counters: mutable.Map[String, Double] = mutable.Map.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  /** (start ms, end ms, span) of every finished job */
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  /** streaming progress: (batch id, progress timestamp ms, durationMs map, span) */
  private val progress = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Long], Int)]
  @volatile private var lastEventNs = System.nanoTime()

  def enabled: Boolean = spark.isDefined

  /** Runs `body` inside a span named `name` (a child of the open span). */
  def span[T](name: String)(body: => T): T = spark match {
    case None => body
    case Some(s) =>
      val sc = s.sparkContext
      val stack = open.get()
      val sp = synchronized {
        val x = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
        spans += x
        x
      }
      val prior = sc.getLocalProperty(SpanProp)
      open.set(sp :: stack)
      sc.setLocalProperty(SpanProp, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(SpanProp, prior)
      }
  }

  private def credit(spanId: Int, kv: (String, Double)*): Unit = synchronized {
    if (spanId >= 0 && spanId < spans.size) {
      val c = spans(spanId).counters
      kv.foreach { case (k, v) => c(k) = c.getOrElse(k, 0.0) + v }
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = spanOf(e.properties)
      Trace.this.synchronized {
        jobSpan(e.jobId) = sp
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = sp)
      }
      credit(sp, "jobs" -> 1.0)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized {
        val sp = jobSpan.getOrElse(e.jobId, -1)
        jobs += ((jobStartMs.getOrElse(e.jobId, e.time), e.time, sp))
      }
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sp = Trace.this.synchronized(stageSpan.getOrElse(e.stageInfo.stageId, -1))
      credit(sp, "stages" -> 1.0)
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = Trace.this.synchronized(stageSpan.getOrElse(e.stageId, -1))
      val m = e.taskMetrics
      if (m != null) credit(sp,
        "tasks" -> 1.0,
        "task_run_s" -> m.executorRunTime / 1e3,
        "task_cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      lastEventNs = System.nanoTime()
    }
  }

  /** Span open on the thread that started the stream; progress events are
    * delivered on the listener thread, so the replay span is captured by
    * [[expectStream]] before the stream starts.
    */
  @volatile private var streamSpan = -1
  def expectStream(): Unit = streamSpan = open.get().headOption.map(_.id).getOrElse(-1)

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val m = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset",
        "queryPlanning", "getBatch").map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized(progress += ((p.batchId, ts, m, streamSpan)))
      lastEventNs = System.nanoTime()
    }
  }

  /** Waits until the listener bus has been quiet for a moment and every
    * started job has ended, so the counters cover all the work submitted.
    */
  def drain(timeoutMs: Long = 10000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(jobStartMs.size > jobs.size)
    while (System.currentTimeMillis() < deadline &&
        (pending || System.nanoTime() - lastEventNs < 300L * 1000 * 1000))
      Thread.sleep(50)
  }

  /** Streaming progress reports: (batch id, wall ms, durationMs, span). */
  def progressEvents: Seq[(Long, Long, Map[String, Long], Int)] = synchronized(progress.toSeq)

  /** Spans named `name` (in start order). */
  def named(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = synchronized {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Set.empty[Int]
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val id = frontier.head
      frontier = frontier.tail
      if (out.add(id)) frontier = kids.getOrElse(id, Nil).map(_.id).toList ++ frontier
    }
    out.toSet
  }

  /** Summed counters over the spans in `ids`. */
  def counters(ids: Set[Int]): Map[String, Double] = synchronized {
    val acc = mutable.Map.empty[String, Double]
    ids.foreach(i => if (i >= 0 && i < spans.size)
      spans(i).counters.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v })
    acc.toMap
  }

  /** Wall milliseconds inside `[fromMs, toMs]` during which no job of the
    * spans in `ids` was running.
    */
  def idleMs(ids: Set[Int], fromMs: Long, toMs: Long): Long = {
    val iv = synchronized(jobs.filter(j => ids.contains(j._3)).map(j => (j._1, j._2)).toSeq)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0L, (toMs - fromMs) - busy)
  }

  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Adds one child span per streaming epoch under the span that started
    * the stream, timed from the epoch's progress report.
    */
  def epochSpans(): Unit = synchronized {
    progress.sortBy(_._2).foreach { case (batch, tsMs, d, parent) =>
      val startNs = nano0 + (tsMs - wall0Ms) * 1000000L
      val sp = new Span(spans.size, "epoch", parent, startNs)
      sp.endNs = startNs + d("triggerExecution") * 1000000L
      sp.counters ++= d.map { case (k, v) => s"${k}_s" -> v / 1e3 }
      sp.counters("batch") = batch.toDouble
      spans += sp
    }
  }

  /** All spans as a JSON document (times in seconds since the first span). */
  def json: String = synchronized {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Stats.toJson(Map("spans" -> spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (if (s.endNs < 0) -1.0 else (s.endNs - t0) / 1e9),
        "counters" -> s.counters)
    }))
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  val off: Trace = new Trace(None)

  def attach(spark: SparkSession): Trace = {
    val t = new Trace(Some(spark))
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
