package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable

/** Spark task metrics summed over one span. */
final class SpanAgg {
  var jobs = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var rowsOut = 0L
  /** executor run time of every task, per stage */
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** job count per job description */
  val byDescription = mutable.LinkedHashMap.empty[String, Long]

  /** Max over median task time in the span's busiest stage. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** Attributes Spark jobs to the span the benchmark is in when each job
  * starts. Spans run one at a time on the driver thread; the bus is
  * drained at every span boundary, so no event crosses into the next span.
  * Jobs that carry the `perfbench.lineage` local property (the traced
  * run's background lineage writes) go to a span of their own.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  @volatile private var current = "idle"
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val spans = mutable.HashMap.empty[String, SpanAgg]

  sc.addSparkListener(this)

  private def agg(span: String): SpanAgg = spans.getOrElseUpdate(span, new SpanAgg)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val span =
      if (props.exists(_.getProperty(Probe.LineageProp) != null)) "lineage" else current
    val a = agg(span)
    a.jobs += 1
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("-")
    a.byDescription(desc) = a.byDescription.getOrElse(desc, 0L) + 1
    js.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(te.stageId, current))
    if (!te.taskInfo.successful) a.tasksFailed += 1
    val m = te.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.rowsOut += m.outputMetrics.recordsWritten
      a.taskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.SparkInternals.drain(sc)

  /** Runs `body` as span `name`; returns its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    drain()
    current = name
    val t0 = System.nanoTime()
    try {
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      (r, sec)
    } finally current = "idle"
  }

  /** Removes and returns the aggregate of `name` (empty if it ran no job). */
  def take(name: String): SpanAgg = synchronized(spans.remove(name).getOrElse(new SpanAgg))

  /** Jobs attributed to `name` so far (call after `drain()`). */
  def jobsSoFar(name: String): Long = synchronized(spans.get(name).map(_.jobs).getOrElse(0L))
}

object Probe {
  final val LineageProp = "perfbench.lineage"
}

/** Peak on-heap memory the engine holds through Spark's memory manager
  * (execution + storage) while an operation runs, sampled every
  * millisecond. In local mode the executors share the driver's heap, so
  * this covers every task. The JVM's post-GC old-generation peak is not
  * used: it moves by a third between identical runs, with GC timing.
  */
object MemPeak {
  def during[T](body: => T): (T, Double) = {
    // collect first, so the ContextCleaner drops the previous run's blocks
    System.gc()
    Thread.sleep(200)
    val peak = new AtomicLong(0L)
    val running = new AtomicBoolean(true)
    val sampler = new Thread(() =>
      while (running.get()) {
        peak.accumulateAndGet(org.apache.spark.perfbench.SparkInternals.managedOnHeap(), (a, b) => math.max(a, b))
        Thread.sleep(1)
      })
    sampler.setDaemon(true)
    sampler.start()
    try {
      val r = body
      (r, peak.get() / 1048576.0)
    } finally {
      running.set(false)
      sampler.join()
    }
  }
}
