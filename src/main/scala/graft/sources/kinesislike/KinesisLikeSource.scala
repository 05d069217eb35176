package graft.sources.kinesislike

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Errors the source can surface, mirroring the reference's error taxonomy
  * (subscribe_to_shard.ex:57,67-69; producer handle_info clauses
  * producer.ex:89-132). Every class is retryable via the producer's fixed
  * backoff (producer.ex:37) except nothing — the reference retries all of
  * them too; `classify` returns the label the producer logs. */
object KinesisLikeErrors {
  final class ResourceInUseException(msg: String) extends RuntimeException(msg)
  final class TransportClosedException(msg: String) extends RuntimeException(msg)
  final class HttpErrorException(val status: Int, msg: String) extends RuntimeException(msg)
  final class StreamClosedException(msg: String) extends RuntimeException(msg)

  /** Producer-side classification (producer.ex:89-132): five clauses, all
    * of which mark the stream unhealthy and schedule a retry. */
  def classify(t: Throwable): String = rootCause(t) match {
    case _: ResourceInUseException  => "resource_in_use"    // producer.ex:89-96
    case _: TransportClosedException => "transport_closed"  // producer.ex:98-105
    case _: HttpErrorException      => "http_error"         // producer.ex:107-114
    case _: StreamClosedException   => "closed"             // producer.ex:116-123
    case _                          => "unknown"            // producer.ex:125-132
  }

  @annotation.tailrec
  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  /** Build the typed exception for an injection spec — the same
    * vocabulary `classify` reads back, so fault-injection tests exercise
    * every producer clause through the real read path:
    * `resource_in_use` | `transport_closed` | `stream_closed` |
    * `http_error:<status>` (subscribe_to_shard_test.exs:191-203,
    * 249-281's initial-response and in-stream error matrix). */
  def make(spec: String): RuntimeException = spec match {
    case "resource_in_use" =>
      new ResourceInUseException("injected: resource in use")
    case "transport_closed" =>
      new TransportClosedException("injected: transport closed")
    case "stream_closed" =>
      new StreamClosedException("injected: stream closed")
    case s if s.startsWith("http_error:") =>
      val status = s.stripPrefix("http_error:").toInt
      new HttpErrorException(status, s"injected: http $status")
    case other =>
      throw new IllegalArgumentException(
        s"unknown fault-injection class '$other' (want resource_in_use | " +
          "transport_closed | stream_closed | http_error:<status>)")
  }
}

/** Driver-side stream status: surfaces the reference's `:closed` result
  * as a first-class, observable signal (subscribe_to_shard.ex:356-363
  * returns `{:ok, :closed}` distinctly; producer.ex:116-123 has a
  * dedicated error clause for it). A consumer watching only offsets
  * cannot tell "every shard closed after a split/merge — act!" from "no
  * new data right now"; this registry can. A log dir is marked closed
  * when the committed cursor has DELIVERED everything and every shard
  * carries the nil-continuation marker. Lifecycle: Closed is STICKY
  * within a stream's lifetime (a drained poll can't be overwritten back
  * to Open by a later poll racing it), and each NEW stream over the dir
  * resets the entry at construction — so a recycled path starts Open
  * instead of inheriting a previous log's Closed. If several streams
  * consume one dir concurrently, the registry reports the union ("some
  * consumer has drained it to closure since the last stream started"). */
object KinesisLikeStatus {
  sealed trait StreamStatus
  /** Shards still open, or open shards merely idle. */
  case object Open extends StreamStatus
  /** Every shard closed AND every record delivered+committed. */
  case object Closed extends StreamStatus

  private val statuses =
    new java.util.concurrent.ConcurrentHashMap[String, StreamStatus]()
  private def key(logDir: String): String = new File(logDir).getAbsolutePath

  def of(logDir: String): StreamStatus =
    statuses.getOrDefault(key(logDir), Open)
  private[kinesislike] def markClosed(logDir: String): Unit =
    statuses.put(key(logDir), Closed)
  /** Forget a dir: called when a new stream starts over it (and by
    * tests reusing temp paths). */
  def reset(logDir: String): Unit = statuses.remove(key(logDir))
}

/** KinesisLike — a Spark DSv2 source replaying a local ordered shard log
  * with the offset/resume semantics of the reference's SubscribeToShard
  * client (SURVEY.md §7 Slice 2; no network exists in the image, so the
  * log directory stands in for the wire).
  *
  * Semantics preserved from the reference:
  *  - five starting positions (subscribe_to_shard.ex:60-65, 424-435),
  *    default `latest` (producer.ex:22) — [[StartingPosition]];
  *  - the resume cursor advances only for events actually delivered
  *    (subscribe_to_shard.ex:343-354): a batch's end offset is exactly the
  *    last sequence number its readers emitted;
  *  - transparent resubscribe (subscribe_to_shard.ex:205-220): every
  *    microbatch re-"requests" from the committed cursor, and a restart
  *    from checkpoint carries the cursor forward; if NO events were ever
  *    delivered the original starting position still governs
  *    (subscribe_to_shard_test.exs:175-189) because the initial offset is
  *    resolved from it once and persisted;
  *  - shard closed = nil continuation (subscribe_to_shard.ex:356-363): a
  *    `#CLOSED` log marker; the shard simply stops contributing offsets;
  *  - one shard = one partition (producer.ex:172 supports exactly one
  *    shard; we generalize to N files but each remains an ordered,
  *    independently-consumed unit);
  *  - rate control as a source option (maxRecordsPerBatch, per shard) —
  *    the pull-based analog of the reference's ignored GenStage demand
  *    (producer.ex:155-157);
  *  - fault injection (failOnceAfter=N) delivers N records then raises a
  *    transport error exactly once — the partial-events-before-error path
  *    (producer.ex:159-168); Spark's committed-batch semantics preserve
  *    the delivered prefix.
  *
  * Schema: the fixed Kinesis record envelope (SURVEY.md §1.3) —
  * shardId, sequenceNumber, approximateArrivalTimestamp, partitionKey,
  * data(binary, base64-decoded payload per subscribe_to_shard.ex:365-366).
  *
  * Scale posture: readers stream their shard file executor-side (no
  * driver materialization) and seek to a frame boundary near their
  * cursor instead of decoding the shard from byte 0; driver-side work
  * per microbatch is metadata-only offset resolution over the bytes
  * appended since the last batch (O(appended bytes), not O(shard)),
  * like Kafka's listOffsets.
  */
class KinesisLikeProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesislike"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisLikeTable.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisLikeTable(new CaseInsensitiveStringMap(properties))
}

object KinesisLikeTable {
  val schema: StructType = StructType(Seq(
    StructField("shardId", StringType, nullable = false),
    StructField("sequenceNumber", StringType, nullable = false),
    StructField("approximateArrivalTimestamp", TimestampType, nullable = false),
    StructField("partitionKey", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false),
  ))
}

final case class KinesisLikeConfig(
    logDir: String,
    startingPosition: StartingPosition,
    maxRecordsPerBatch: Option[Long],
    failOnceAfter: Option[Long],
    failAtOpen: Option[String] = None,
    failAtOpenTimes: Int = 1,
    faultRunId: Option[String] = None,
)

object KinesisLikeConfig {
  def from(options: CaseInsensitiveStringMap): KinesisLikeConfig = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("kinesislike: 'path' option (log dir) is required"))
    KinesisLikeConfig(
      logDir = dir,
      startingPosition = Option(options.get("startingPosition"))
        .map(StartingPosition.parse)
        .getOrElse(StartingPosition.default),
      maxRecordsPerBatch =
        Option(options.get("maxRecordsPerBatch")).map(_.toLong),
      failOnceAfter = Option(options.get("failOnceAfter")).map(_.toLong),
      // Initial-response fault injection: raise the typed error class at
      // reader open, `failAtOpenTimes` times total — the 3xx/4xx/5xx
      // initial-response matrix of subscribe_to_shard_test.exs:249-281.
      // Two failures exceed local[N,2]'s task-attempt budget, so the
      // QUERY fails and the producer's classify/retry loop is exercised
      // end-to-end, not just the task retry.
      failAtOpen = Option(options.get("failAtOpen"))
        .map { spec => KinesisLikeErrors.make(spec); spec }, // validate early
      failAtOpenTimes =
        Option(options.get("failAtOpenTimes")).map(_.toInt).getOrElse(1),
      // Budget markers are keyed by this id: a second injection-enabled
      // run over the same persistent fixture dir passes a fresh id (or
      // calls Faults.clearMarkers) rather than silently inheriting the
      // spent budget of the previous run.
      faultRunId = Option(options.get("faultRunId")),
    )
  }
}

/** File-backed injection budget, shared across task retries AND query
  * restarts in the same log dir (a JVM-local counter would reset when the
  * producer restarts the query, so the retry could never succeed). One
  * line is appended per raise; the fault fires while lines < times.
  * Executor-side, but serialized per marker by the JVM-wide lock (local
  * and test scale — injection is a test-only facility). */
private[graft] object Faults {
  /** Marker-file prefix shared by every injection budget. */
  private val MarkerPrefixes = Seq("_FAILED_", "_INSTREAM_")

  /** Budget marker for `name`, scoped by the config's faultRunId when one
    * was given — distinct run ids never share a budget, so re-running an
    * injection scenario over a persistent fixture dir actually injects. */
  def marker(dir: String, name: String, scope: String): File =
    new File(dir, if (scope.isEmpty) name else s"${name}_$scope")

  /** Delete every injection budget marker in `logDir` — the explicit
    * reset for fixtures that reuse a dir without changing faultRunId. */
  def clearMarkers(logDir: String): Unit = synchronized {
    Option(new File(logDir).listFiles()).getOrElse(Array.empty)
      .filter(f => MarkerPrefixes.exists(f.getName.startsWith))
      .foreach(_.delete())
  }

  def shouldRaise(marker: File, times: Int): Boolean = synchronized {
    val p = marker.toPath
    val count =
      if (marker.exists()) java.nio.file.Files.readAllLines(p).size else 0
    if (count >= times) false
    else {
      java.nio.file.Files.write(
        p, "raised\n".getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      true
    }
  }
}

class KinesisLikeTable(props: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"kinesislike(${props.get("path")})"
  override def schema(): StructType = KinesisLikeTable.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Merge table-level properties with per-read options (read options win).
    val merged = new util.HashMap[String, String](props.asCaseSensitiveMap())
    merged.putAll(options.asCaseSensitiveMap())
    new KinesisLikeScanBuilder(
      KinesisLikeConfig.from(new CaseInsensitiveStringMap(merged)))
  }
}

class KinesisLikeScanBuilder(cfg: KinesisLikeConfig) extends ScanBuilder {
  override def build(): Scan = new KinesisLikeScan(cfg)
}

class KinesisLikeScan(cfg: KinesisLikeConfig) extends Scan {
  override def readSchema(): StructType = KinesisLikeTable.schema
  override def toBatch: Batch = new KinesisLikeBatch(cfg)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KinesisLikeMicroBatchStream(cfg)
}

/** Bounded scan of the whole log — the batch analog of a closed shard
  * consumed from TRIM_HORIZON (SURVEY.md §1.3 "batch analog: bounded
  * scan"). */
class KinesisLikeBatch(cfg: KinesisLikeConfig) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    KinesisLikeLog.shardFiles(cfg.logDir).map { f =>
      // Fault-injection options apply to batch reads too — an option the
      // config layer accepted must not be silently inert on this path.
      KinesisLikePartition(
        KinesisLikeLog.shardId(f), f.getAbsolutePath,
        after = -1L, until = Long.MaxValue,
        failOnceAfter = cfg.failOnceAfter.getOrElse(-1L),
        markerDir = cfg.logDir,
        failAtOpen = cfg.failAtOpen.getOrElse(""),
        failAtOpenTimes = cfg.failAtOpenTimes,
        faultScope = cfg.faultRunId.getOrElse(""))
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    KinesisLikeReaderFactory
}

/** Per-shard resume cursor: shard → last delivered sequence number
  * (deliver strictly greater). The streaming Offset analog of the
  * reference's `resume_position` (subscribe_to_shard.ex:343-354), made
  * durable by Spark's checkpoint commit log instead of
  * update_resume_position messages (producer.ex:136-139 — see SURVEY.md
  * §3.3 for why that mechanism collapses into checkpoint config here). */
final case class KinesisLikeOffset(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sorted.map { case (s, v) => s"$s=$v" }.mkString(";")
}

object KinesisLikeOffset {
  def fromJson(s: String): KinesisLikeOffset =
    KinesisLikeOffset(
      s.split(';').filter(_.nonEmpty).map { kv =>
        val i = kv.lastIndexOf('=')
        kv.substring(0, i) -> kv.substring(i + 1).toLong
      }.toMap)
}

class KinesisLikeMicroBatchStream(cfg: KinesisLikeConfig)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // A new stream = a new lifetime for this log dir: drop any Closed mark
  // a previous log at the same path earned, so recycled paths start Open,
  // and drop cached shard metadata so a replaced same-length file within
  // mtime granularity cannot serve a stale maxSeq/closed.
  KinesisLikeStatus.reset(cfg.logDir)
  KinesisLikeLog.invalidateMeta(cfg.logDir)
  // Re-warm the just-invalidated metadata cache with the shard scans run
  // IN PARALLEL: the per-shard (maxSeq, closed) folds are independent
  // file reads, but the first consumer (prepareForTriggerAvailableNow /
  // initialOffset) walks shards sequentially on the driver — a 16-shard
  // serial rescan per stream START billed to every streaming lifecycle.
  // Scans populate the concurrent cache, so the sequential walk then
  // hits O(1) entries. Failures are NOT swallowed to a later read: the
  // scan that throws here (e.g. a corrupt frame) rethrows on the caller.
  KinesisLikeLog.prefetchMeta(cfg.logDir)

  // Shard set is fixed at stream start, matching the reference's
  // single-DescribeStream shard discovery (producer.ex:171-188); shard
  // splits/merges surface as closed shards, never as new partitions
  // (explicit reference non-goal, subscribe_to_shard.ex:8).
  private lazy val shards: Seq[File] = {
    val fs = KinesisLikeLog.shardFiles(cfg.logDir)
    if (fs.isEmpty)
      throw new IllegalArgumentException(
        s"kinesislike: no shard-*.log / shard-*.elog files in ${cfg.logDir}")
    fs
  }

  // Trigger.AvailableNow bound: offsets snapshotted at query start so the
  // run drains exactly what existed then (and microbatching — hence
  // watermark advancement and state flushing — still happens).
  @volatile private var availableNowBound: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(shards.map { f =>
      KinesisLikeLog.shardId(f) -> KinesisLikeLog.maxSeq(f)
    }.toMap)

  override def initialOffset(): Offset =
    KinesisLikeOffset(shards.map { f =>
      KinesisLikeLog.shardId(f) ->
        KinesisLikeLog.resolveInitial(f, cfg.startingPosition)
    }.toMap)

  override def getDefaultReadLimit: ReadLimit =
    cfg.maxRecordsPerBatch
      .map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  /** End offset for the next microbatch: everything available, capped per
    * shard by the rate limit. This is the S7 resubscribe loop — each
    * batch re-requests from the committed cursor
    * (subscribe_to_shard.ex:205-220). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KinesisLikeOffset].positions
    // `start` is the committed resume cursor. If it has already delivered
    // everything and every shard carries the nil-continuation marker, the
    // stream is CLOSED — surface the reference's distinct `:closed` result
    // (subscribe_to_shard.ex:356-363) instead of presenting as idle. The
    // engine polls here after the final batch (observed: AvailableNow runs
    // one drained poll before stopping), and the shard-metadata cache
    // makes the check O(1) per poll.
    val closedAndDrained = shards.forall { f =>
      KinesisLikeLog.isClosed(f) &&
        from.getOrElse(KinesisLikeLog.shardId(f), -1L) >= KinesisLikeLog.maxSeq(f)
    }
    if (closedAndDrained) KinesisLikeStatus.markClosed(cfg.logDir)
    val cap = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _              => None
    }
    KinesisLikeOffset(shards.map { f =>
      val sh = KinesisLikeLog.shardId(f)
      val avail = availableNowBound match {
        case Some(bound) => bound.getOrElse(sh, -1L)
        case None        => KinesisLikeLog.maxSeq(f)
      }
      val after = from.getOrElse(sh, -1L)
      val end = cap match {
        case Some(n) => math.min(avail, after + n)
        case None    => avail
      }
      sh -> math.max(after, end)
    }.toMap)
  }

  override def reportLatestOffset(): Offset =
    KinesisLikeOffset(shards.map { f =>
      KinesisLikeLog.shardId(f) -> KinesisLikeLog.maxSeq(f)
    }.toMap)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KinesisLikeOffset].positions
    val e = end.asInstanceOf[KinesisLikeOffset].positions
    shards.flatMap { f =>
      val sh    = KinesisLikeLog.shardId(f)
      val after = s.getOrElse(sh, -1L)
      val until = e.getOrElse(sh, after)
      if (until <= after) None
      else Some(KinesisLikePartition(
        sh, f.getAbsolutePath, after, until,
        cfg.failOnceAfter.getOrElse(-1L),
        cfg.logDir,
        cfg.failAtOpen.getOrElse(""),
        cfg.failAtOpenTimes,
        cfg.faultRunId.getOrElse(""),
        KinesisLikeLog.seekOffset(f, after)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KinesisLikeReaderFactory

  override def deserializeOffset(json: String): Offset =
    KinesisLikeOffset.fromJson(json)

  // The commit log IS the resume position store; nothing else to do
  // (contrast producer.ex:136-139's explicit message). Closed detection
  // lives in latestOffset — the engine does not deliver a commit() for
  // the final batch of an AvailableNow run, but it does poll latestOffset
  // once more with the committed cursor.
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class KinesisLikePartition(
    shardId: String,
    path: String,
    after: Long,
    until: Long,
    failOnceAfter: Long,
    markerDir: String,
    failAtOpen: String,
    failAtOpenTimes: Int,
    faultScope: String = "",
    startByte: Long = 0L,
) extends InputPartition

object KinesisLikeReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new KinesisLikeReader(p.asInstanceOf[KinesisLikePartition])
}

/** Executor-side shard reader: streams the ordered log file EVENT by
  * event — the RecordReader analog of the reference's frame parser +
  * decoder (S9 subscribe_to_shard.ex:277-327, S10 329-341, S12
  * 343-366). Cursor logic runs at the reference's per-EVENT granularity
  * (handle_event advances the resume position once per
  * SubscribeToShardEvent, covering ALL its records). The reader
  * resubscribes from the continuation (subscribe_to_shard.ex:205-220):
  * it starts at the partition's `startByte`, just past an indexed
  * Records event whose continuation is ≤ the committed cursor, so no
  * event before it can hold an undelivered record, and the per-batch
  * read is O(new data plus at most one index stride) rather than
  * O(cursor). From there a whole event whose continuation is ≤ the
  * cursor is skipped without touching its records, and an event whose
  * continuation passes the batch end is the last that can matter
  * (per-shard order). An in-stream error event is raised when the
  * reader reaches it, so one before `startByte` — history before the
  * subscription's start — is never raised, as on the wire. The one
  * engine-side seam: an admission cap (maxRecordsPerBatch) is
  * sequence-space arithmetic and can land MID-event; the in-event
  * (after, until] record filter then defers the remainder to the next
  * microbatch, preserving exactly-once (spec-pinned) — a wire
  * subscription never cuts mid-event, and neither does an uncapped
  * replay. Record payloads decode from the envelope's base64 `Data`
  * (S12); order within a shard is event order then in-event record
  * order, preserving the reference's event-order guarantee
  * (subscribe_to_shard.ex:157). */
class KinesisLikeReader(p: KinesisLikePartition)
    extends PartitionReader[InternalRow] {

  // Initial-response fault injection: raising here is the analog of a
  // 3xx/4xx/5xx on the subscribe call itself, before any event arrives
  // (subscribe_to_shard_test.exs:249-281).
  if (p.failAtOpen.nonEmpty && Faults.shouldRaise(
      Faults.marker(p.markerDir, s"_FAILED_OPEN_${p.shardId}", p.faultScope),
      p.failAtOpenTimes))
    throw KinesisLikeErrors.make(p.failAtOpen)

  // Extension-dispatched: a `.elog` shard streams through the event-
  // stream frame reassembler (16 KB chunks, partial frames buffered —
  // the S9 byte tier) and the Records-envelope decode (S12) from
  // `startByte`; a `.log` shard reads line-per-event from byte 0; both
  // yield the same event vocabulary.
  private val in = KinesisLikeLog.openEvents(new File(p.path), p.startByte)
  private var row: InternalRow = _
  private var delivered        = 0L
  private var exhausted        = false
  private val pending = scala.collection.mutable.Queue.empty[InternalRow]
  private val shardUtf         = UTF8String.fromString(p.shardId)

  override def next(): Boolean = {
    while (pending.isEmpty && !exhausted) {
      in.readEvent() match {
        case null => exhausted = true
        case KinesisLikeLog.ErrorEvent(spec, times) =>
          maybeRaiseInstream(spec, times)
        case KinesisLikeLog.Closed => // nil continuation: no records
        case KinesisLikeLog.RecordsEvent(cont, recs) =>
          if (cont > p.after) {
            // The event is (at least partly) past the cursor; the
            // record filter handles batch-seam straddles exactly-once.
            recs.foreach { r =>
              if (r.seq > p.after && r.seq <= p.until) {
                maybeFail()
                pending.enqueue(new GenericInternalRow(Array[Any](
                  shardUtf,
                  UTF8String.fromString(r.seq.toString),
                  r.arrivalMicros,
                  UTF8String.fromString(r.partitionKey),
                  java.util.Base64.getDecoder.decode(r.dataB64),
                )))
                delivered += 1
              }
            }
            // Ordered shard: once an event's continuation passes the
            // batch end, no later event can hold in-range records
            // (per-shard sequence is non-decreasing, so every later
            // record has seq ≥ this continuation > until). STRICTLY
            // past: at cont == until the NEXT event may still open with
            // an at-least-once DUPLICATE of seq == until, which belongs
            // to this batch (duplicates share a sequence number and
            // must never straddle a batch — q29's dedup invariant).
            if (cont > p.until) exhausted = true
          } // else: whole-event skip — continuation ≤ committed cursor
      }
    }
    if (pending.isEmpty) false
    else { row = pending.dequeue(); true }
  }

  /** One-shot fault injection: after `failOnceAfter` delivered records,
    * raise a transport error exactly once per log dir (marker file). The
    * task retry then succeeds — exercising partial-delivery-then-error
    * (producer.ex:159-168) without wedging the query. */
  private def maybeFail(): Unit =
    if (p.failOnceAfter >= 0 && delivered == p.failOnceAfter) {
      val marker = Faults.marker(p.markerDir, "_FAILED_ONCE", p.faultScope)
      if (marker.createNewFile())
        throw new KinesisLikeErrors.TransportClosedException(
          s"simulated transport close after $delivered records on ${p.shardId}")
    }

  /** In-stream exception event: raises the typed class the first time
    * any reader reaches it — the S10 exception-within-the-event-stream
    * demux path (subscribe_to_shard.ex:329-341) exercised through a
    * real read, not a hand-built instance. `times` is the raise budget
    * (q129 plants the session's task-attempt budget so the QUERY-level
    * failure survives task retries under any local master). */
  private def maybeRaiseInstream(spec: String, times: Int): Unit =
    if (Faults.shouldRaise(
        Faults.marker(p.markerDir, s"_INSTREAM_RAISED_${p.shardId}", p.faultScope), times))
      throw KinesisLikeErrors.make(spec)

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
