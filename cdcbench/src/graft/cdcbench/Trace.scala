package graft.cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call into one layer. `req` is the request it serves: a
  * rotation batch, a wave or a read. Times are nanoTime. */
final case class Span(id: Long, name: String, parent: Long, req: String,
    thread: Long, start: Long, end: Long) {
  def dur: Double = (end - start) / 1e9
}

/** One Spark job, attributed to the span whose thread launched it. */
final case class Job(id: Int, span: Long, start: Long, end: Long,
    stages: Seq[Int], compaction: Boolean)

/** Task metrics summed per stage, with the stage's own interval. */
final class StageAgg {
  var cpuNs, runMs, shuffleWrite, shuffleRecs, inBytes, inRecs, outBytes,
    outRecs = 0L
  var start, end = 0L
}

/** One streaming trigger as `StreamingQueryProgress` reports it. */
final case class Trigger(start: Long, durMs: Map[String, Long],
    rows: Long)

/** Spans kept in memory, plus Spark job, stage and trigger records from
  * the listener buses, all on one nanoTime clock. Off, [[span]] is a
  * plain call and no listener is registered. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val Prop = "cdcbench.span"
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Listener clocks are epoch milliseconds; map them onto nanoTime. */
  def nsOfMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  private val ids = new AtomicLong()
  private val cur = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!on) body
    else {
      val parent = Option(cur.get)
      val start = System.nanoTime()
      val id = ids.incrementAndGet()
      val open = Span(id, name, parent.fold(0L)(_.id),
        if (req.nonEmpty) req else parent.fold("")(_.req),
        Thread.currentThread().getId, start, 0L)
      cur.set(open)
      sc.setLocalProperty(Prop, id.toString)
      try body
      finally {
        spans.add(open.copy(end = System.nanoTime()))
        cur.set(parent.orNull)
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  private def stage(id: Int): StageAgg =
    stages.computeIfAbsent(id, _ => new StageAgg)

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val owner = Option(e.properties).flatMap(p =>
          Option(p.getProperty(Prop))).fold(0L)(_.toLong)
        // compaction runs inside the apply call: attribute its jobs by
        // the engine frame in the job's call site
        val compaction = e.stageInfos.exists(_.details.contains("compactState"))
        jobs.put(e.jobId, Job(e.jobId, owner, nsOfMs(e.time), 0L,
          e.stageIds, compaction))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = nsOfMs(e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stage(e.stageInfo.stageId)
        s.synchronized {
          s.start = e.stageInfo.submissionTime.fold(0L)(nsOfMs)
          s.end = e.stageInfo.completionTime.fold(0L)(nsOfMs)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val s = stage(e.stageId)
          s.synchronized {
            s.cpuNs += m.executorCpuTime
            s.runMs += m.executorRunTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRecs += m.shuffleReadMetrics.recordsRead
            s.inBytes += m.inputMetrics.bytesRead
            s.inRecs += m.inputMetrics.recordsRead
            s.outBytes += m.outputMetrics.bytesWritten
            s.outRecs += m.outputMetrics.recordsWritten
          }
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        triggers.add(Trigger(
          nsOfMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
    })
  }

  /** Deliver every posted listener event before reading the records. */
  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def jobsOf(s: Span): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.span == s.id && j.end > 0)
  def triggersIn(s: Span): Seq[Trigger] =
    triggers.asScala.toSeq.filter(t => t.start >= s.start && t.start <= s.end)

  /** Seconds of `[from, to)` covered by the union of `ivs`. */
  def covered(from: Long, to: Long, ivs: Seq[(Long, Long)]): Double = {
    var t = from
    var sum = 0L
    ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, t)
        if (b > s) { sum += b - s; t = b }
      }
    sum / 1e9
  }

  /** A span's wall time not covered by any job it launched. */
  def driverGap(s: Span): Double =
    s.dur - covered(s.start, s.end, jobsOf(s).map(j => (j.start, j.end)))

  def stageSum(js: Seq[Job])(f: StageAgg => Long): Long =
    js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
      .map(f).sum

  /** Spans as JSON lines: name, start, end, parent, request id, plus
    * jobs as child spans of the span that launched them. */
  def write(path: String): Unit = if (on) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.foreach { s =>
        w.println(Json.obj("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "req" -> s.req, "thread" -> s.thread,
          "start_ns" -> (s.start - baseNs), "end_ns" -> (s.end - baseNs)))
      }
      jobs.values.asScala.toSeq.sortBy(_.start).foreach { j =>
        w.println(Json.obj("id" -> s"job${j.id}", "name" ->
          (if (j.compaction) "spark.job.compaction" else "spark.job"),
          "parent" -> j.span, "start_ns" -> (j.start - baseNs),
          "end_ns" -> (j.end - baseNs), "stages" -> j.stages.size))
      }
      triggers.asScala.toSeq.sortBy(_.start).foreach { t =>
        w.println(Json.obj("name" -> "spark.trigger",
          "start_ns" -> (t.start - baseNs), "rows" -> t.rows,
          "duration_ms" -> Json.obj(t.durMs.toSeq.sortBy(_._1): _*)))
      }
    } finally w.close()
  }
}
