package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** One layer window of a traced run: a span around a call into the engine,
  * or a stage window of a staged pipeline (bounded by the `ts_ns` the
  * pipeline appends to its `_metrics` table when it commits the stage).
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, run: Int)

/** The traced run's recorder: a SparkListener that keeps every finished
  * task and started job in memory, and a sampler thread that reads the
  * process CPU time and the JVM's GC time every few milliseconds. A layer's
  * numbers are whatever falls inside its windows: tasks by the midpoint of
  * their run, CPU and GC by interpolating the samples at the window edges,
  * so CPU spent outside tasks (query planning, AQE's async jobs, the JIT)
  * is charged to the window it happened in.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private final case class Task(stage: Int, midNs: Long, runMs: Long, shRead: Long,
                                shWrite: Long, spill: Long, recRead: Long, recWritten: Long,
                                bytesWritten: Long)

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  private val tasks = ArrayBuffer[Task]()
  private val jobStarts = ArrayBuffer[Long]()
  val spans = ArrayBuffer[Span]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      tasks += Task(e.stageId, msToNs((info.launchTime + info.finishTime) / 2), m.executorRunTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts += msToNs(e.time)

  // (nanoTime, process CPU ns, GC ms) samples
  private val samples = ArrayBuffer[(Long, Long, Long)]()
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    while (sampling) {
      val s = (System.nanoTime(), Env.processCpuNs(), Env.gcMs())
      samples.synchronized(samples += s)
      Thread.sleep(2)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Listen to the repetitions that are traced only. */
  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  def stop(): Unit = {
    sampling = false
    sampler.join()
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def interpolate(t: Long, pick: ((Long, Long, Long)) => Long): Double =
    samples.synchronized {
      val i = samples.indexWhere(_._1 >= t)
      if (i < 0) pick(samples.last).toDouble
      else if (i == 0) pick(samples.head).toDouble
      else {
        val (a, b) = (samples(i - 1), samples(i))
        val f = (t - a._1).toDouble / math.max(1L, b._1 - a._1)
        pick(a) + f * (pick(b) - pick(a))
      }
    }

  def cpuS(from: Long, to: Long): Double = (interpolate(to, _._2) - interpolate(from, _._2)) / 1e9
  def gcS(from: Long, to: Long): Double = (interpolate(to, _._3) - interpolate(from, _._3)) / 1e3

  /** Every per-layer number of one window. */
  def window(s: Span): Map[String, Double] = {
    val in = tasks.filter(t => t.midNs > s.startNs && t.midNs <= s.endNs)
    // skew of the heaviest Spark stage in the window: max / median task time
    val skew = if (in.isEmpty) 0.0 else {
      val heaviest = in.groupBy(_.stage).values.maxBy(ts => (ts.map(_.runMs).sum, -ts.head.stage))
      val times = heaviest.map(_.runMs.toDouble).sorted
      times.last / math.max(1.0, times(times.length / 2))
    }
    Map(
      "wall_s" -> (s.endNs - s.startNs) / 1e9,
      "cpu_s" -> cpuS(s.startNs, s.endNs),
      "gc_s" -> gcS(s.startNs, s.endNs),
      "shuffle_read_mb" -> in.map(_.shRead).sum / 1e6,
      "shuffle_write_mb" -> in.map(_.shWrite).sum / 1e6,
      "spill_mb" -> in.map(_.spill).sum / 1e6,
      "rows_out" -> in.map(_.recWritten).sum.toDouble,
      "rows_read" -> in.map(_.recRead).sum.toDouble,
      "write_mb" -> in.map(_.bytesWritten).sum / 1e6,
      "tasks" -> in.size.toDouble,
      "task_skew" -> skew,
      "jobs" -> jobStarts.count(t => t > s.startNs && t <= s.endNs).toDouble)
  }

  /** Spans as JSON lines, for the trace file written when the run ends. */
  def spansJson: String = spans.map { s =>
    s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":"${s.parent}","run":${s.run}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Bytes Spark tasks wrote to files (`outputMetrics.bytesWritten`): stage,
  * stream and scratch tables, including files a later call deletes again.
  * Read after `BenchBus.drain`.
  */
final class OutputBytes extends SparkListener {
  @volatile var bytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes += e.taskMetrics.outputMetrics.bytesWritten
}
