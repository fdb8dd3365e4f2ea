package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is a named
  * interval around one call into a module, made from the benchmark's
  * own code; spans of one request share its request id and point at
  * their parent span. Spans stay in memory and are written as JSON
  * lines when the run ends. */
final class Tracer {
  final case class Span(id: Long, parent: Long, request: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A fresh request id and its root span id. */
  def request(): (Long, Long) = { val r = ids.incrementAndGet(); (r, ids.incrementAndGet()) }

  /** Run `body` as span `name` under `parent` of request `req`. */
  def span[A](req: Long, parent: Long, name: String)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized { spans += Span(id, parent, req, name, t0, System.nanoTime()) }
  }

  /** Record a closed root span for request `req` (its children may
    * have been recorded already). */
  def root(req: Long, id: Long, name: String, startNs: Long, endNs: Long): Unit =
    synchronized { spans += Span(id, 0L, req, name, startNs, endNs) }

  /** A count observed at a layer boundary (averaged per run). */
  def count(name: String, v: Double): Unit = synchronized {
    counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def durationsMs(name: String): Seq[Double] = synchronized {
    spans.filter(_.name == name).map(_.ms).toSeq
  }
  def medianMs(name: String): Double = Stats.median(durationsMs(name))
  def values(name: String): Seq[Double] = synchronized {
    counts.get(name).map(_.toSeq).getOrElse(Nil)
  }
  def meanCount(name: String): Double = synchronized {
    counts.get(name).filter(_.nonEmpty).map(c => c.sum / c.size).getOrElse(0.0)
  }

  def write(path: String): Unit = synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"request":${s.request},"span":${s.id},"parent":${s.parent},""")
        .append(s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  def size: Int = synchronized(spans.size)
}

/** Spark execution counters: jobs, stages, tasks, shuffle bytes, spill
  * and executor run time, summed over the listener's lifetime, plus the
  * time spent in its own handlers (its cost on the listener bus), and
  * the jobs submitted under the local property [[SparkCounters.Tag]]. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val taggedJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val taskRunNs = new AtomicLong
  val handlerNs = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.incrementAndGet()
    if (e.properties != null && e.properties.getProperty(SparkCounters.Tag) == "1")
      taggedJobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskRunNs.addAndGet(m.executorRunTime * 1000000L)
    }
  }

  def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get,
    shuffleReadBytes.get, shuffleWriteBytes.get, spillBytes.get, taskRunNs.get, handlerNs.get)
}

object SparkCounters {
  /** Local property that marks the jobs [[SparkCounters.taggedJobs]] counts. */
  val Tag = "perfbench.count_jobs"
}
