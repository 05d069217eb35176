package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{IdempotentSink, ProducerRegistry, ProducerRunner, RegistryListener}

/** The consumer a user would write: `kinesislike` source → `from_json`
  * → stateful operators → [[IdempotentSink]] through `foreachBatch`,
  * supervised by [[ProducerRunner]]. */
object Streams {
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  def source(spark: SparkSession, log: File, start: String, cap: Option[Long],
      faultRunId: Option[String] = None): DataFrame = {
    val r = spark.readStream.format("kinesislike")
      .option("path", log.getAbsolutePath)
      .option("startingPosition", start)
    val capped = cap.fold(r)(n => r.option("maxRecordsPerBatch", n.toString))
    faultRunId.fold(capped)(id => capped.option("faultRunId", id)).load()
  }

  private def parsed(stream: DataFrame): DataFrame =
    stream.select(
      unix_micros(col("approximateArrivalTimestamp")).as("arrival_us"),
      from_json(col("data").cast("string"), eventSchema).as("e"))
      .select(col("arrival_us"), col("e.*"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")

  /** At-least-once dedup, then a 10 s tumbling-window rollup per event
    * type in append mode (each window is committed once, when the
    * watermark passes it). */
  def rollup(stream: DataFrame): DataFrame =
    parsed(stream)
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        sum(col("event_id")).as("id_sum"))
      .select(unix_micros(col("window.start")).as("window_us"), col("event_type"),
        col("n"), col("cents"), col("id_sum"))

  /** Dedup only: every record reaches the sink in the batch that reads it. */
  def rows(stream: DataFrame): DataFrame =
    parsed(stream).select(col("event_id"), col("event_type"), col("cents"), col("arrival_us"))

  /** The user's `foreachBatch` handler, timed: when each batch committed,
    * how long `sink(b, id)` took, and how many replays it skipped. */
  final class TimedSink(val store: File, probe: Probe) {
    private val sink = new IdempotentSink(store.getAbsolutePath)
    val commitMs = mutable.Map.empty[Long, Double]
    val applyMs  = mutable.ArrayBuffer.empty[Double]
    var replaysSkipped = 0
    @volatile var lastCommitMs = 0.0

    def apply(b: DataFrame, id: Long): Unit = {
      if (new File(store, s"batch=$id").exists()) synchronized { replaysSkipped += 1 }
      val t0 = Clock.nowMs
      sink(b, id)
      val t1 = Clock.nowMs
      probe.add(Span(Layers.Sink, s"batch=$id", t0, t1))
      synchronized { commitMs(id) = t1; applyMs += t1 - t0 }
      lastCommitMs = t1
    }

    def mbWritten: Double = {
      def size(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum else f.length
      size(store) / 1e6
    }

    def read(spark: SparkSession): DataFrame = spark.read.parquet(store.getAbsolutePath)
  }

  /** A registry that also records how long its streams spent not ready. */
  final class TimedRegistry extends ProducerRegistry {
    private var notReadySince: Option[Double] = None
    private var unready = 0.0
    override def register(streamName: String): Unit = synchronized {
      super.register(streamName)
      if (notReadySince.isEmpty && !producersReady) notReadySince = Some(Clock.nowMs)
    }
    override def updateValue(streamName: String, value: Boolean): Unit = synchronized {
      super.updateValue(streamName, value)
      if (producersReady) { notReadySince.foreach(t => unready += Clock.nowMs - t); notReadySince = None }
      else if (notReadySince.isEmpty) notReadySince = Some(Clock.nowMs)
    }
    def unreadyMs: Double = synchronized(unready + notReadySince.fold(0.0)(Clock.nowMs - _))
  }

  /** One supervised consumer run: every lifecycle the producer starts,
    * when each failed, and the errors it classified. */
  final class Supervised(
      spark: SparkSession, probe: Probe, name: String, log: File, ckpt: File,
      val sink: TimedSink, trigger: Trigger, maxRetries: Int)(mkDf: () => DataFrame) {
    val registry   = new TimedRegistry
    val startMs    = mutable.ArrayBuffer.empty[Double]
    val startCost  = mutable.ArrayBuffer.empty[Double]
    val failMs     = mutable.ArrayBuffer.empty[Double]
    val current    = new AtomicReference[StreamingQuery]()
    val runner = new ProducerRunner(
      name,
      () => {
        val t0 = Clock.nowMs
        synchronized { startMs += t0 }
        val q = mkDf().writeStream
          .queryName(name)
          .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .trigger(trigger)
          .start()
        synchronized { startCost += Clock.nowMs - t0 }
        current.set(q)
        q
      },
      registry = registry,
      backoffMillis = 0L,
      maxRetries = maxRetries,
      sleep = _ => synchronized {
        val t = Clock.nowMs
        failMs += t
        probe.add(Span(Layers.Lifecycle, s"$name-${failMs.size}", startMs.last, t))
      },
      logDir = Some(log.getAbsolutePath))

    /** Run to completion; returns (ok, wall ms). */
    def run(): (Boolean, Double) = {
      val listener = new RegistryListener(registry)
      spark.streams.addListener(listener)
      val t0 = Clock.nowMs
      try {
        val ok = runner.run()
        val t1 = Clock.nowMs
        probe.add(Span(Layers.Lifecycle, s"$name-final", startMs.lastOption.getOrElse(t0), t1))
        (ok, t1 - t0)
      } finally spark.streams.removeListener(listener)
    }

    /** Time from each lifecycle failure to the first batch its restart
      * committed, in ms. */
    def resumeGapsMs: Seq[Double] = {
      val commits = sink.commitMs.values.toSeq.sorted
      failMs.toSeq.flatMap(f => commits.find(_ > f).map(_ - f))
    }

    def errorLabels: Seq[String] = runner.errorLog.map(_._1)
  }
}
