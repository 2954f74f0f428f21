package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable.ArrayBuffer

/** A timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional for spans the benchmark opens itself, whole for the ones
  * Spark reports). `parent` is the index of the enclosing span, -1 for an
  * operation's root.
  */
final case class Span(layer: String, name: String, req: String, start: Double, end: Double, parent: Int = -1) {
  def ms: Double = end - start
}

/** Spark job and stage records from a [[SparkListener]]. */
final case class JobRec(id: Int, desc: String, start: Long, var end: Long, stages: Seq[Int])
final case class StageRec(
    id: Int,
    name: String,
    submitted: Long,
    completed: Long,
    tasks: Int,
    shuffleRead: Long,
    shuffleWrite: Long,
    spill: Long,
    peakMemory: Long,
    bytesWritten: Long
)

final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += JobRec(e.jobId, desc, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages += StageRec(
      s.stageId,
      s.name,
      s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L),
      s.numTasks,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.peakExecutionMemory,
      if (m == null) 0L else m.outputMetrics.bytesWritten
    )
  }
}

final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The benchmark's tracing instrument. Disabled, it only runs the code it
  * wraps: the end-to-end runs attach no listener and record no span.
  * Enabled, it records a span around each call the benchmark makes into a
  * graft layer, plus Spark's jobs, stages and streaming progress, keeps
  * them in memory and writes them once at the end.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nanos0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private var open = List.empty[Int]
  private val spans = ArrayBuffer.empty[Span]
  private val measured = ArrayBuffer.empty[Span]
  val jobs = new JobListener
  val streams = new ProgressListener

  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def now(): Double = wall0 + (System.nanoTime() - nanos0) / 1e6

  /** Run `body` inside a span of request `req`. */
  def span[T](layer: String, name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(layer, name, req, now(), Double.NaN, open.headOption.getOrElse(-1))
      open = idx :: open
      try body
      finally {
        spans(idx) = spans(idx).copy(end = now())
        open = open.tail
      }
    }

  /** Record an interval measured elsewhere (a query's planning phase) under
    * the innermost span that contains it.
    */
  def external(layer: String, name: String, req: String, start: Double, end: Double): Unit =
    if (enabled) measured += Span(layer, name, req, start, end)

  /** Wait for the listener bus so every job, stage and progress event of
    * the work so far has been delivered.
    */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  /** Every span including one per Spark job, each attached under the
    * innermost benchmark span containing it, with its self time: its
    * duration minus the part its children cover.
    */
  def tree(): Vector[(Span, Double)] = {
    val jobSpans = jobs.synchronized(jobs.jobs.toVector).filter(_.end > 0).map { j =>
      Span("job", "spark.job", j.desc, j.start.toDouble, j.end.toDouble)
    }
    val own = spans.toVector
    // Spans the benchmark opened already know their parent; the rest
    // (jobs, query phases) go under the innermost opened span around
    // their start.
    val all = own ++ (measured.toVector ++ jobSpans).map { s =>
      val around = own.indices.filter(k => own(k).start <= s.start && s.start <= own(k).end)
      if (around.isEmpty) s
      else {
        // Spark reports whole milliseconds: clip to the enclosing span.
        val p = own(around.maxBy(k => own(k).start))
        s.copy(parent = around.maxBy(k => own(k).start), start = math.max(s.start, p.start), end = math.min(s.end, p.end))
      }
    }
    val children = all.indices.groupBy(i => all(i).parent)
    all.indices.map { i =>
      val s = all(i)
      val kids = children.getOrElse(i, Seq.empty).map { k =>
        (math.max(all(k).start, s.start), math.min(all(k).end, s.end))
      }
      val covered = Stats.unionLength(kids.map { case (a, b) => ((a * 1000).toLong, (b * 1000).toLong) }) / 1000.0
      (s, math.max(0.0, s.ms - covered))
    }.toVector
  }

  /** Write every span with its self time, then every completed stage, as
    * JSON lines.
    */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = tree().zipWithIndex.map { case ((s, self), i) =>
      Json.render(
        Map(
          "id" -> i,
          "layer" -> s.layer,
          "name" -> s.name,
          "req" -> s.req,
          "start_ms" -> s.start,
          "end_ms" -> s.end,
          "parent" -> s.parent,
          "self_ms" -> self
        )
      )
    }
    val stages = jobs.synchronized(jobs.stages.toVector).map { s =>
      Json.render(
        Map(
          "stage" -> s.id,
          "name" -> s.name,
          "start_ms" -> s.submitted,
          "end_ms" -> s.completed,
          "tasks" -> s.tasks,
          "shuffle_read_bytes" -> s.shuffleRead,
          "shuffle_write_bytes" -> s.shuffleWrite
        )
      )
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines ++ stages).mkString("\n").getBytes("UTF-8"))
  }
}
