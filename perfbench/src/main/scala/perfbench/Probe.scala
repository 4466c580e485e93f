package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusFlush
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Scheduler and executor totals at one instant. Differences of two
  * snapshots taken around an operation give that operation's counts. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, serialStages: Long = 0,
    execRunMs: Long = 0, execCpuNs: Long = 0, gcMs: Long = 0, shuffleBytes: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    serialStages - o.serialStages, execRunMs - o.execRunMs, execCpuNs - o.execCpuNs,
    gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    serialStages + o.serialStages, execRunMs + o.execRunMs, execCpuNs + o.execCpuNs,
    gcMs + o.gcMs, shuffleBytes + o.shuffleBytes)
}

/** The benchmark's own SparkListener: counts jobs, completed stages,
  * tasks, single-task ("serial") stages, and sums executor run, CPU
  * and GC time and shuffle bytes (read plus written). */
final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, serial, run, cpu, gc, shuffle = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) serial.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      run.addAndGet(m.executorRunTime)
      cpu.addAndGet(m.executorCpuTime)
      gc.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, stages.get, tasks.get, serial.get,
    run.get, cpu.get, gc.get, shuffle.get)
}

/** Listener plus the bus flush: `settled()` returns totals that
  * include every event of every action finished before the call. */
final class Probe(sc: SparkContext) {
  private val listener = new CountingListener
  sc.addSparkListener(listener)

  def settled(): Counts = { BusFlush(sc); listener.snapshot() }
}

/** One recorded span: a named interval and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by call order on the calling
  * thread; `write` dumps them as JSON lines when the run ends. A
  * disabled recorder only runs the body, so untraced runs pay nothing. */
final class Spans(enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[A](name: String)(body: => A): A = if (!enabled) body else {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Driver heap in use after full GCs, in MB: the least of several
    * collections, so the pauses give Spark's context cleaner time to
    * drop blocks whose owners became unreachable. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 6).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }
}
