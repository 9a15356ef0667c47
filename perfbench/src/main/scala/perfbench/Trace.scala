package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into an engine layer. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    var start: Long = 0L, var end: Long = 0L) {
  def durNs: Long = end - start
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * read when the run ends. Off (`enabled = false`) it runs the body and
  * records nothing. The innermost open span's id rides the Spark local
  * property [[Tracer.SpanProp]], so [[Attribution]] can charge each job
  * to the call that started it. One client thread opens spans.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** The op id new spans are tagged with. */
  var op: Int = -1
  /** Time spent on the tracer's own bookkeeping. */
  var overheadNs = 0L

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, op)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      s.start = System.nanoTime()
      overheadNs += s.start - b0
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
        overheadNs += System.nanoTime() - s.end
      }
    }

  /** Runs `body` as bookkeeping: its time counts as tracing overhead. */
  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { covered += b - a; reach = b }
    }
    covered
  }
}

/** Process-wide JVM counters read through JMX. */
object Jvm {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Bytes allocated so far by every live thread. */
  def allThreadsAlloc(): Long = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum

  /** CPU time of every live Java thread, by thread id. JIT compiler and
    * GC threads are not Java threads, so warm-up compilation and
    * collection are not in it.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Application CPU spent since `before` (threads started since count in full). */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
}

/** Per-job resource totals from task-end events. */
final class Acc {
  var jobs, stages, tasks, cpuNs, runMs, shuffleRead, shuffleWrite, spill, input = 0L
  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
  }
}

/** A Spark job as the listener saw it: the span that was open when it was
  * submitted, its description (the build labels its cells
  * `graft build: <cell>`), and its interval in `System.nanoTime` terms.
  */
final case class JobRec(id: Int, span: Int, desc: String, startNs: Long, var endNs: Long, acc: Acc)

/** SparkListener that attributes executor CPU, task run time, shuffle,
  * spill and input bytes, and job/stage/task counts to each job, keyed on
  * the job's span and description. `total` sums every task of the run.
  */
final class Attribution extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val total = new Acc
  // listener times are epoch ms; spans are nanoTime
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def ns(epochMs: Long): Long = anchorNs + (epochMs - anchorMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).fold(-1)(_.toInt)
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    val acc = new Acc
    acc.jobs = 1
    jobs.put(e.jobId, JobRec(e.jobId, span, desc, ns(e.time), Long.MaxValue, acc))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    total.synchronized(total.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = ns(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.acc.synchronized(j.acc.stages += 1)
      total.synchronized(total.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    def add(a: Acc): Unit = a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach(j => add(j.acc))
    add(total)
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def sum(js: Iterable[JobRec]): Acc = { val a = new Acc; js.foreach(j => a += j.acc); a }
}
