package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Tracing for the traced run only: a Spark listener that keys every job
  * by its description (the `indexer: <step>` labels `Indexer.step`
  * sets, the `query: <name>` labels this benchmark sets, or none), and
  * in-memory spans around the public calls the benchmark makes. Nothing
  * here runs in an untraced run.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val events = new java.util.concurrent.atomic.AtomicLong
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var spanStack = List.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(label, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    if (m != null) job.foreach { r =>
      r.synchronized {
        r.taskMs += m.executorRunTime
        r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
    events.incrementAndGet()
  }

  /** Listener events arrive asynchronously: wait until the event count
    * stops moving, so a window read after an operation sees all of it.
    */
  def settle(): Unit = {
    var prev = -1L
    var tries = 0
    while (tries < 60 && events.get != prev) {
      prev = events.get
      Thread.sleep(40)
      tries += 1
    }
  }

  /** Per-label totals of the jobs that started inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Map[String, LabelStats] = {
    settle()
    jobs.values.asScala.filter(j => j.start >= fromMs && j.start <= toMs)
      .groupBy(_.label).map { case (label, js) =>
        // wall = union of the jobs' intervals: concurrent steps overlap
        val iv = js.toSeq.map(j => (j.start, math.max(j.end, j.start)))
          .sortBy(_._1)
        var wall = 0L
        var curS = -1L
        var curE = -1L
        iv.foreach { case (s, e) =>
          if (s > curE) { if (curE > curS) wall += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        if (curE > curS) wall += curE - curS
        label -> LabelStats(js.size, wall / 1e3, js.map(_.taskMs).sum / 1e3,
          js.map(_.shuffleBytes).sum / MB, js.map(_.spillBytes).sum / MB,
          js.map(_.writtenBytes).sum / MB)
      }
  }

  /** Run `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spanBuf.synchronized {
      spanBuf += Span(name, spanStack.headOption.getOrElse(-1),
        System.nanoTime(), 0L)
      spanBuf.size - 1
    }
    spanStack = id :: spanStack
    try body
    finally {
      spanStack = spanStack.tail
      spanBuf.synchronized {
        spanBuf(id) = spanBuf(id).copy(endNs = System.nanoTime())
      }
    }
  }

  /** All spans as JSON lines (written out when the run ends). */
  def spansJson: String = spanBuf.synchronized {
    val t0 = spanBuf.headOption.map(_.startNs).getOrElse(0L)
    spanBuf.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }.mkString("\n")
  }
}

object Trace {
  private val MB = 1024.0 * 1024.0

  final class JobRec(val label: String, val start: Long) {
    @volatile var end: Long = start
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var writtenBytes = 0L
  }

  final case class LabelStats(jobs: Int, wallS: Double, taskS: Double,
      shuffleMb: Double, spillMb: Double, writtenMb: Double)

  final case class Span(name: String, parent: Int, startNs: Long,
      endNs: Long)

  def install(sc: SparkContext): Trace = {
    val t = new Trace
    sc.addSparkListener(t)
    t
  }
}
