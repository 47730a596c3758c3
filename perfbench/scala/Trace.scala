package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener totals for one span (or one whole run). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var remoteRead = 0L
  var spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    remoteRead += o.remoteRead; spill += o.spill
  }

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
    s""""run_ms":$runMs,"gc_ms":$gcMs,"shuffle_write":$shuffleWrite,""" +
    s""""shuffle_read":$shuffleRead,"remote_read":$remoteRead,"spill":$spill"""
}

final case class Span(id: Long, name: String, parent: Long, pass: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Layer = the module prefix of the span name (`gatherscatter.pr` -> `gatherscatter`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** What one timed pass left behind: wall time per call name (summed when a
  * name repeats), counts reported by the calls, and, when traced, its spans. */
final case class PassRecord(index: Int, traced: Boolean, wallS: Double,
                            walls: Map[String, Double], counts: Map[String, Double],
                            spans: Seq[Span], peakStorageMb: Double)

/**
 * Spans around the benchmark's calls into the program, plus a SparkListener
 * that folds stage and task metrics into the span that submitted them. The
 * calling thread publishes the open span's id as a local property; Spark
 * copies local properties onto every job and stage it submits, so
 * attribution does not depend on when listener events are delivered.
 *
 * Every call is timed; spans, the span property and the listener's folding
 * only happen while `on` is set, so untraced passes run the same code path
 * minus the tracing.
 */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  private val Key = "perfbench.span"
  @volatile var on = false

  private val nextId = new AtomicLong(0)
  private val perSpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val submitted = new AtomicLong(0)
  private val finished = new AtomicLong(0)
  val runTotals = new Counters // every stage of the run, traced or not

  private var stack: List[Span] = Nil
  private var passSpans = mutable.ArrayBuffer.empty[Span]
  private var passWalls = mutable.LinkedHashMap.empty[String, Double]
  private var passCounts = mutable.LinkedHashMap.empty[String, Double]
  private var passIndex = -1
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  private def spanOf(props: java.util.Properties): Long =
    if (props == null) -1L
    else Option(props.getProperty(Key)).map(_.toLong).getOrElse(-1L)

  private def countersFor(id: Long): Counters =
    perSpan.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    if (id >= 0) { val c = countersFor(id); c.synchronized { c.jobs += 1 } }
    runTotals.synchronized { runTotals.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    submitted.incrementAndGet()
    val id = spanOf(e.properties)
    if (id >= 0) stageSpan.put(e.stageInfo.stageId, id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) {
      runTotals.synchronized { runTotals.failedTasks += 1 }
      val id = stageSpan.getOrDefault(e.stageId, -1L)
      if (id >= 0) { val c = countersFor(id); c.synchronized { c.failedTasks += 1 } }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    val c = new Counters
    c.stages = 1
    c.tasks = info.numTasks
    if (m != null) {
      c.runMs = m.executorRunTime
      c.gcMs = m.jvmGCTime
      c.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      c.remoteRead = m.shuffleReadMetrics.remoteBytesRead
      c.spill = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    runTotals.synchronized { runTotals.add(c) }
    val id = stageSpan.getOrDefault(info.stageId, -1L)
    if (id >= 0) { val t = countersFor(id); t.synchronized { t.add(c) } }
    finished.incrementAndGet()
  }

  /** Block until every submitted stage has reported completion (listener
    * events arrive asynchronously), at most `timeoutMs`. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (finished.get() < submitted.get() && System.currentTimeMillis() < end)
      Thread.sleep(5)
  }

  /** Listener totals of one span (its own stages, not its children's). */
  def countersOf(id: Long): Counters = Option(perSpan.get(id)).getOrElse(new Counters)

  def beginPass(index: Int, traced: Boolean): Unit = {
    passIndex = index
    on = traced
    passSpans = mutable.ArrayBuffer.empty
    passWalls = mutable.LinkedHashMap.empty
    passCounts = mutable.LinkedHashMap.empty
  }

  def endPass(wallS: Double, peakMb: Double): PassRecord = {
    val rec = PassRecord(passIndex, on, wallS, passWalls.toMap, passCounts.toMap,
      passSpans.toSeq, peakMb)
    spans ++= passSpans
    on = false
    rec
  }

  /** Wall time spent so far in this pass under `name`. */
  def wallOf(name: String): Double = passWalls.getOrElse(name, 0.0)

  /** Spark storage memory in use right now, in bytes. */
  def storageBytes(): Long = StorageSampler.usedBytes(sc)

  /** Add to a per-pass count (supersteps, bytes, commits, ...). */
  def count(name: String, v: Double): Unit =
    passCounts(name) = passCounts.getOrElse(name, 0.0) + v

  /** Time one call into the program under `name`; when traced, also record
    * it as a span (child of the open span) and attribute its Spark work. */
  def call[T](name: String)(body: => T): T = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      passWalls(name) = passWalls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      r
    } else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.map(_.id).getOrElse(-1L)
      val prevProp = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      stack ::= Span(id, name, parent, passIndex, t0, t0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, prevProp)
        passSpans += Span(id, name, parent, passIndex, t0, t1)
        passWalls(name) = passWalls.getOrElse(name, 0.0) + (t1 - t0) / 1e9
      }
    }
  }

  /** Write every recorded span with its listener totals as JSONL. */
  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
          s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          countersOf(s.id).json + "}")
      }
      w.println(s"""{"run":"$runId","name":"run_totals",""" + runTotals.json + "}")
    } finally w.close()
  }
}

object Tracer {

  /** Self time per layer of one traced pass: each span's duration minus the
    * durations of its direct children (calls nest but never overlap). */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}

/**
 * Samples Spark storage memory in use (every block manager's max minus
 * remaining) from a daemon thread, reporting the peak since the last reset.
 */
final class StorageSampler(sc: SparkContext) {
  private val periodMs = 2L
  @volatile private var peak = 0L
  @volatile private var running = true

  private val thread = new Thread(() => {
    while (running) {
      val u = StorageSampler.usedBytes(sc)
      if (u > peak) peak = u
      Thread.sleep(periodMs)
    }
  }, "perfbench-storage-sampler")
  thread.setDaemon(true)
  thread.start()

  def reset(): Unit = peak = StorageSampler.usedBytes(sc)
  def peakMb: Double = math.max(peak, StorageSampler.usedBytes(sc)) / (1024.0 * 1024.0)
  def stop(): Unit = { running = false; thread.join() }
}

object StorageSampler {
  /** Storage memory in use over every block manager (max minus remaining). */
  def usedBytes(sc: SparkContext): Long =
    sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
}
