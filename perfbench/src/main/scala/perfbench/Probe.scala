package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One traced interval, in epoch milliseconds. Spans of a run share its
  * run id; the parent is assigned by containment when self time is
  * computed. */
final case class Span(layer: String, name: String, startMs: Double, endMs: Double)

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Layer nesting used to attribute self time: a span's parent is the
  * innermost span of a shallower layer that contains it. */
object Layers {
  val Workload  = "workload"
  val Lifecycle = "lifecycle"
  val Batch     = "microbatch"
  val Sink      = "sink.apply"
  val Stage     = "stage"
  val OutOfBand = "oob"
  val depth: Map[String, Int] =
    Map(Workload -> 0, Lifecycle -> 1, OutOfBand -> 1, Batch -> 2, Sink -> 3, Stage -> 4)
  val all: Seq[String] = Seq(Workload, Lifecycle, Batch, Sink, Stage, OutOfBand)
}

/** In-memory span store plus the listener data the traced run reports.
  * With tracing off only the bench's own spans are kept (they cost a
  * few appends per batch); the Spark listeners are not registered. */
final class Probe(val runId: String, val traced: Boolean) {
  import Probe.{StageStat, TaskInfoLite}
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Time spent inside this class's listener callbacks and span
    * bookkeeping, in nanoseconds. */
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong

  private def charged[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  def add(s: Span): Unit = if (traced) charged(synchronized { spans += s; () })

  def span[A](layer: String, name: String)(body: => A): A = {
    val t0 = Clock.nowMs
    try body finally add(Span(layer, name, t0, Clock.nowMs))
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def overheadMs: Double = overheadNs.get / 1e6

  // ------------------------------------------------------------------
  // Executor side: task metrics per stage, stage walls, job tags.
  // ------------------------------------------------------------------
  @volatile var measuring = false
  private val stageTag  = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val taskAcc   = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskInfoLite]]
  private val stageDone = mutable.ArrayBuffer.empty[StageStat]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))))
        .getOrElse("")
      e.stageIds.foreach(id => stageTag.put(id, tag))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
      if (measuring && e.taskMetrics != null) {
        val m = e.taskMetrics
        val t = TaskInfoLite(m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
          e.taskInfo.duration)
        Probe.this.synchronized { taskAcc.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += t }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charged {
      val i = e.stageInfo
      val ts = Probe.this.synchronized(taskAcc.remove(i.stageId)).getOrElse(mutable.ArrayBuffer.empty)
      if (measuring && ts.nonEmpty && i.submissionTime.isDefined && i.completionTime.isDefined) {
        val st = StageStat(i.stageId, Option(stageTag.get(i.stageId)).getOrElse(""),
          i.submissionTime.get.toDouble, i.completionTime.get.toDouble, ts.size,
          ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum, ts.map(_.shuffleWrite).sum,
          ts.map(_.spill).sum, ts.map(_.dur).toSeq)
        Probe.this.synchronized { stageDone += st }
        add(Span(Layers.Stage, s"stage-${i.stageId}", st.startMs, st.endMs))
      }
    }
  }

  def stages: Seq[StageStat] = synchronized(stageDone.toList)

  // ------------------------------------------------------------------
  // Microbatch engine: every progress event of every query.
  // ------------------------------------------------------------------
  private val progresses = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = charged {
      val p = e.progress
      if (measuring) {
        Probe.this.synchronized { progresses += p }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        add(Span(Layers.Batch, s"${p.name}#${p.batchId}", start, start + trig))
      }
    }
  }

  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(progresses.toList)

  def attach(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  // ------------------------------------------------------------------
  // Self time per layer, and the trace file.
  // ------------------------------------------------------------------

  /** Self time per layer, in seconds: a span's duration minus the part
    * of it that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = allSpans.filter(s => s.endMs >= s.startMs).toIndexedSeq
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[Span]]
    val eps = 1.0
    ss.indices.foreach { i =>
      val s = ss(i)
      val d = Layers.depth.getOrElse(s.layer, 5)
      var best = -1
      ss.indices.foreach { j =>
        val p = ss(j)
        val pd = Layers.depth.getOrElse(p.layer, 5)
        if (j != i && pd < d && p.startMs <= s.startMs + eps && p.endMs >= s.endMs - eps) {
          if (best < 0 || pd > Layers.depth(ss(best).layer) ||
              (pd == Layers.depth(ss(best).layer) && p.startMs > ss(best).startMs)) best = j
        }
      }
      if (best >= 0) children.getOrElseUpdate(best, mutable.ArrayBuffer.empty) += s
    }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ss.indices.foreach { i =>
      val s = ss(i)
      val covered = Probe.unionMs(children.getOrElse(i, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).toSeq)
      self(s.layer) += math.max(0.0, (s.endMs - s.startMs) - covered) / 1000.0
    }
    Layers.all.map(l => l -> self(l)).toMap
  }

  def writeTrace(file: java.io.File): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    allSpans.foreach { s =>
      val o = arr.addObject()
      o.put("run", runId); o.put("layer", s.layer); o.put("name", s.name)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
    }
    m.writeValue(file, arr)
  }
}

object Probe {
  final case class StageStat(
      id: Int, tag: String, startMs: Double, endMs: Double, tasks: Int,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, durations: Seq[Long])
  private final case class TaskInfoLite(cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, dur: Long)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a <= curE) curE = math.max(curE, b)
      else { total += curE - curS; curS = a; curE = b }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile (q in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Heap in use right after full collections, in MB (two, so objects
    * freed by the first collection's finalization are gone too). */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes this thread has passed through read(2), per /proc/thread-self/io. */
  def threadReadChars(): Long =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/thread-self/io")).asScala
        .collectFirst { case l if l.startsWith("rchar:") => l.stripPrefix("rchar:").trim.toLong }
        .getOrElse(-1L)
    } catch { case _: java.io.IOException => -1L }
}
