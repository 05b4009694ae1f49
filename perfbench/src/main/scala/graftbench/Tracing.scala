package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of a run. `parent` is 0 for a top-level span. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work of one job, or of a set of jobs: jobs, stages, tasks and
  * the stage-level task metrics Spark aggregates.
  */
final class ExecAgg {
  var jobs, stages, tasks, oneTaskStages = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  var runMs, gcMs, jobWallMs = 0L
  def add(o: ExecAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; oneTaskStages += o.oneTaskStages
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; runMs += o.runMs; gcMs += o.gcMs; jobWallMs += o.jobWallMs
  }
}

/** One job: the span that launched it, its wall-clock start and end
  * (ms), and the metrics of its completed stages.
  */
final class JobRec(val span: Int, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val agg = new ExecAgg
}

/** Records every job with the span whose id is in its description (set
  * by [[Tracer.span]] on the launching thread); jobs with any other
  * description get span 0.
  */
final class SpanListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val started, ended = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty(Tracer.DescriptionKey)).orNull
    val rec = new JobRec(Tracer.spanOf(desc), e.time)
    rec.agg.jobs = 1
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    started.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { r =>
      r.endMs = e.time
      r.agg.synchronized { r.agg.jobWallMs = e.time - r.startMs }
    }
    ended.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(jobs.get(stageJob.getOrDefault(info.stageId, -1))).foreach { r =>
      val a = r.agg
      a.synchronized {
        a.stages += 1
        a.tasks += info.numTasks
        if (info.numTasks == 1) a.oneTaskStages += 1
        Option(info.taskMetrics).foreach { m =>
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
        }
      }
    }
    lastEventNs = System.nanoTime()
  }

  // SQL execution events share the bus queue with the query listeners
  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventNs = System.nanoTime()

  /** Waits until every started job has ended and the bus has been
    * quiet for a moment, so the records (and the query listeners fed
    * from the same queue) are complete.
    */
  def drain(maxWaitMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    while (System.nanoTime() < deadline &&
      (started.get != ended.get || System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(25)
  }

  /** Sum over the jobs `keep` selects. */
  def sum(keep: JobRec => Boolean): ExecAgg = {
    val total = new ExecAgg
    jobs.values.forEach(r => if (keep(r)) r.agg.synchronized(total.add(r.agg)))
    total
  }
}

/** Records spans in memory; safe to use from the stream thread too.
  * Disabled, it runs the body and nothing else.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private var nextId = 0
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val recorded = ArrayBuffer.empty[Span]

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def spans: Seq[Span] = synchronized(recorded.toList)

  /** The innermost open span on this thread, 0 outside any. */
  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](kind: String, name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(Tracer.DescriptionKey)
      sc.setJobDescription(Tracer.tag(id))
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setJobDescription(prev)
        val s = Span(id, parent, kind, name, t0, t1, attrs)
        synchronized { recorded += s }
      }
    }

  /** Adds a span measured elsewhere (a micro-batch timed by Spark) and
    * re-parents the given spans under it.
    */
  def record(kind: String, name: String, startNs: Long, ms: Double,
      attrs: Map[String, Double], children: Set[Int]): Int = synchronized {
    val id = newId()
    for (i <- recorded.indices if children(recorded(i).id))
      recorded(i) = recorded(i).copy(parent = id)
    recorded += Span(id, 0, kind, name, startNs, startNs + (ms * 1e6).toLong, attrs)
    id
  }
}

object Tracer {
  val DescriptionKey = "spark.job.description"
  private val Prefix = "graftbench-span:"
  def tag(id: Int): String = Prefix + id
  def spanOf(desc: String): Int =
    if (desc != null && desc.startsWith(Prefix)) desc.substring(Prefix.length).toInt else 0
}
