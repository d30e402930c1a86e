package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans plus a SparkListener that attributes every job,
  * stage and task to the span that was open on the calling thread.
  *
  * A span sets the local property [[Trace.SpanProp]] on the calling
  * thread, so Spark stamps it on every job that thread submits; the
  * listener keeps only jobs that carry it (a stream's execution thread
  * inherits it from the thread that started the stream). Records are written out
  * once, when the run ends. With tracing off nothing is recorded and
  * no listener is registered.
  */
final class Trace(val on: Boolean) {
  import Trace._

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long = 0L)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  @volatile var op: Int = -1

  /** Run `body` inside a span named `name`; with tracing off, just run it. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId.getAndIncrement(), name, parent.map(_.id).getOrElse(0),
        op, System.nanoTime())
      spans.add(s)
      stack = s :: stack
      if (sc != null) sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        if (sc != null)
          sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  val jobs = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(SpanProp))).foreach { span =>
        jobSpan.put(e.jobId, span)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        // micro-batch jobs also carry the stream's batch id
        val batch = p.flatMap(x => Option(x.getProperty(BatchProp))).map(_.toLong).getOrElse(-1L)
        jobs.add(Map[String, Any]("job" -> e.jobId, "span" -> span.toInt,
          "start_ms" -> e.time, "stages" -> e.stageIds.size, "batch" -> batch).asJava)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobSpan.containsKey(e.jobId))
        jobs.add(Map[String, Any]("job" -> e.jobId, "end_ms" -> e.time).asJava)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageJob.containsKey(e.stageId)) {
        val job = stageJob.get(e.stageId)
        val m = e.taskMetrics
        val i = e.taskInfo
        val rec = new java.util.HashMap[String, Any]()
        rec.put("job", job); rec.put("stage", e.stageId)
        rec.put("launch_ms", i.launchTime); rec.put("finish_ms", i.finishTime)
        if (m != null) {
          rec.put("run_ms", m.executorRunTime); rec.put("cpu_ns", m.executorCpuTime)
          rec.put("gc_ms", m.jvmGCTime)
          rec.put("sw", m.shuffleWriteMetrics.bytesWritten)
          rec.put("sr", m.shuffleReadMetrics.totalBytesRead)
          rec.put("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
          rec.put("in", m.inputMetrics.bytesRead)
          rec.put("out", m.outputMetrics.bytesWritten)
        }
        tasks.add(rec)
      }
    }
  }

  def attach(ctx: SparkContext): Unit = if (on) {
    sc = ctx
    ctx.addSparkListener(listener)
  }

  /** Records as JSON-ready values. Call after the work is done; waits
    * for the listener bus to deliver what is still queued. */
  def dump(): java.util.Map[String, Any] = {
    if (sc != null) {
      // listener events are delivered asynchronously
      val until = System.nanoTime() + 5000000000L
      var last = -1
      while (System.nanoTime() < until && tasks.size != last) {
        last = tasks.size; Thread.sleep(200)
      }
    }
    Map[String, Any](
      "spans" -> spans.asScala.toSeq.map(s => Map[String, Any]("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end).asJava).asJava,
      "jobs" -> jobs, "tasks" -> tasks).asJava
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  /** Set by Spark's micro-batch execution on the jobs of each batch. */
  val BatchProp = "streaming.sql.batchId"
}
