package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** One timed call into a program layer. `parent` is the id of the span that
  * was open when this one started (-1 at the top); `pass` groups the spans
  * of one closed-loop pass. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans wrap the benchmark's own calls into the
  * program's public layer functions; nothing inside the program is
  * instrumented. Disabled, [[span]] only runs its body, so an untraced pass
  * makes the same program calls as a traced one, apart from the audits a
  * traced pass adds and excludes from its time. Spark driver thread only. */
object Tracer {
  @volatile var enabled = false
  var pass = -1
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, pass, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Summed seconds of the spans named `name` in `pass`. */
  def seconds(pass: Int, name: String): Double =
    spans.iterator.filter(s => s.pass == pass && s.name == name)
      .map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.getBytes("UTF-8"))
  }
}

/** Engine counters summed over the tasks, stages and jobs that ended since
  * the listener was registered. */
final case class Engine(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long) {
  def -(o: Engine): Engine = Engine(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill)
}

/** SparkListener that sums task metrics and keeps job intervals, so the
  * Spark driver's time between jobs (planning, serialization, loops)
  * can be told apart from time spent executing. */
final class EngineListener extends SparkListener {
  private var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
  private var shRead, shWrite, spill = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Engine = {
    BusDrain.drain(sc)
    synchronized {
      Engine(jobs, stages, tasks, cpuNs, runMs, gcMs, shRead, shWrite, spill)
    }
  }

  /** Wall milliseconds of [t0, t1] (epoch ms) during which no job ran. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = t0
    clipped.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    (t1 - t0) - busy
  }
}

/** Process-wide JVM counters: JIT compilation time, GC time, and the heap
  * still in use after a full collection. */
object Jvm {
  def compMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap MB live after a full collection: what the pass left behind (cached
    * frames, broadcasts, checkpoints, the in-memory Derby tables). Reading
    * after a forced full GC keeps young-generation garbage out of it. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
