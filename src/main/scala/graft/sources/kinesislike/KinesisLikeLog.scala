package graft.sources.kinesislike

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The local ordered event log the KinesisLike source replays. The image
  * has no network, so the "stream" is a directory of per-shard append-only
  * text files — the semantic stand-in for a Kinesis shard's ordered record
  * stream (SURVEY.md §7 Slice 2).
  *
  * Line format (one record per line — the analog of one decoded
  * event-stream frame, subscribe_to_shard.ex:313-327):
  *
  *   <sequenceNumber>\t<arrivalMicros>\t<partitionKey>\t<base64 data>
  *
  * - sequence numbers are numeric and strictly increasing within a shard
  *   (Kinesis continuation numbers are ordered strings,
  *   subscribe_to_shard.ex:343-354);
  * - `data` is base64, mirroring the base64 "Data" field of a Kinesis
  *   record that decode_records un-wraps (subscribe_to_shard.ex:365-366);
  * - a literal `#CLOSED` final line is the nil-continuation shard-closed
  *   marker (subscribe_to_shard.ex:356-363).
  *
  * Duplicate lines (same sequence number twice) are legal — Kinesis is
  * at-least-once across resubscribes, and the streaming dedup operator
  * exists precisely for that.
  */
object KinesisLikeLog {

  val ClosedMarker = "#CLOSED"
  val ReadyMarker  = "_LOG_READY"

  /** Extension of the byte-framed shard encoding (one AWS-event-stream
    * frame per record, [[EventStreamFraming]]); `.log` stays the plain
    * one-record-per-line text encoding. Both decode to the same line
    * stream, so everything above this module is encoding-agnostic. */
  val FramedExtension = ".elog"

  /** One decoded stream EVENT — the unit handle_event advances the
    * resume position for (subscribe_to_shard.ex:343-363): a
    * SubscribeToShardEvent carrying a continuation number and its
    * (possibly many) records, the nil-continuation shard-closed signal,
    * or an in-stream exception with its injection budget. */
  sealed trait ShardEvent
  final case class RecordsEvent(continuation: Long, records: Seq[Record])
      extends ShardEvent
  case object Closed extends ShardEvent
  final case class ErrorEvent(spec: String, times: Int) extends ShardEvent

  /** A sequential EVENT reader over one shard file — what the executor
    * reader consumes, so cursor logic runs at the reference's per-event
    * granularity. */
  trait EventSource {
    /** Next event, or null at end of shard. */
    def readEvent(): ShardEvent
    def close(): Unit
  }

  /** A sequential line reader over one shard file, closing over whichever
    * byte encoding the file carries. */
  trait LineSource {
    /** Next line, or null at end of shard. */
    def readLine(): String
    def close(): Unit
  }

  private final class TextLineSource(f: File) extends LineSource {
    private val in = new BufferedReader(
      new InputStreamReader(new FileInputStream(f), UTF_8))
    override def readLine(): String = in.readLine()
    override def close(): Unit = in.close()
  }

  /** The text log's event view: each record line is a one-record event
    * whose continuation is its own sequence number (the text encoding
    * predates the Records envelope and has no grouping). */
  private final class TextEventSource(f: File) extends EventSource {
    private val in = new TextLineSource(f)
    override def readEvent(): ShardEvent = {
      var line = in.readLine()
      while (line != null) {
        if (line == ClosedMarker) return Closed
        else if (line.startsWith(ErrorMarker)) {
          val parts = line.split('\t')
          return ErrorEvent(
            parts.lift(1).getOrElse("transport_closed"),
            parts.lift(2).map(_.toInt).getOrElse(1))
        } else parseLine(line) match {
          case Some(r) => return RecordsEvent(r.seq, Seq(r))
          case None    => // skip non-record comment lines
        }
        line = in.readLine()
      }
      null
    }
    override def close(): Unit = in.close()
  }

  /** [[EventSource]] rendered back to lines — the flatten every
    * driver-side metadata fold and fixture derivation consumes (those
    * paths are per-record regardless of how the wire groups them). */
  private final class EventLineSource(in: EventSource) extends LineSource {
    private val queue = scala.collection.mutable.Queue.empty[String]
    override def readLine(): String = {
      while (queue.isEmpty) {
        in.readEvent() match {
          case null   => return null
          case Closed => queue.enqueue(ClosedMarker)
          case ErrorEvent(spec, times) =>
            queue.enqueue(s"$ErrorMarker\t$spec\t$times")
          case RecordsEvent(_, recs) =>
            recs.foreach(r => queue.enqueue(
              s"${r.seq}\t${r.arrivalMicros}\t${r.partitionKey}\t${r.dataB64}"))
        }
      }
      queue.dequeue()
    }
    override def close(): Unit = in.close()
  }

  /** Open a shard file with the EVENT decoder its extension names — the
    * dispatch point the executor reader uses (per-event cursor
    * semantics, S12 envelope decode inside the framed tier). A framed
    * shard may start at `startByte`, a frame boundary from
    * [[seekOffset]]; text shards always read from byte 0. */
  def openEvents(f: File, startByte: Long = 0L): EventSource =
    if (f.getName.endsWith(FramedExtension))
      new EventStreamFraming.FramedEventSource(f, startByte)
    else {
      require(startByte == 0L, s"text shard $f cannot seek to byte $startByte")
      new TextEventSource(f)
    }

  /** Open a shard file as LINES — the ONE dispatch point between the
    * text and event-stream-framed encodings for every driver-side
    * metadata fold and line-level fixture derivation. */
  def openLines(f: File): LineSource =
    if (f.getName.endsWith(FramedExtension))
      new EventLineSource(new EventStreamFraming.FramedEventSource(f))
    else new TextLineSource(f)

  /** The writer dual of [[LineSource]]: one line in, whichever byte
    * encoding the target file's extension names out. Lets every fixture
    * derivation (variants, splits, tails, fault plants) be
    * ENCODING-PRESERVING — a framed base derives framed targets, so the
    * whole streaming pack can ride the byte tier. */
  trait LineSink {
    def writeLine(l: String): Unit
    def close(): Unit
  }

  private final class TextLineSink(f: File, append: Boolean)
      extends LineSink {
    private val w = Files.newBufferedWriter(
      f.toPath, UTF_8,
      java.nio.file.StandardOpenOption.CREATE,
      if (append) java.nio.file.StandardOpenOption.APPEND
      else java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    override def writeLine(l: String): Unit = { w.write(l); w.write('\n') }
    override def close(): Unit = w.close()
  }

  private final class FramedLineSink(
      f: File, append: Boolean, recordsPerEvent: Int, continuation: Boolean)
      extends LineSink {
    // A shard's wire stream opens with the initial-response message
    // (fake_kinesis.ex:22; skipped on decode per subscribe_to_shard
    // .ex:341). With append=false the open TRUNCATES, so the message is
    // written unconditionally (gating it on pre-open emptiness silently
    // dropped it when overwriting a non-empty shard); with append=true
    // it is written only when the file starts empty; a CONTINUATION
    // fragment (a mid-stream byte range later appended onto a prefix,
    // [[deriveSplitPair]]) never writes it.
    private val fresh = append && (!f.exists() || f.length() == 0)
    private val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f, append))
    if (!continuation && (!append || fresh))
      out.write(EventStreamFraming.initialResponseMessage)
    // Records buffered into multi-record envelope events (the wire's
    // Records-list cardinality); a control/error line flushes first so
    // message order equals line order.
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Record]
    private def flush(): Unit = if (buf.nonEmpty) {
      out.write(EventStreamFraming.encodeRecordsEvent(buf.toSeq))
      buf.clear()
    }
    override def writeLine(l: String): Unit =
      parseLine(l) match {
        case Some(r) =>
          buf += r
          if (buf.size >= recordsPerEvent) flush()
        case None =>
          flush()
          out.write(EventStreamFraming.encodeLine(l))
      }
    override def close(): Unit = { flush(); out.close() }
  }

  /** Open a shard file for writing with the encoder its extension
    * names — the write-side twin of [[openLines]]. Framed sinks group
    * up to `recordsPerEvent` records per SubscribeToShardEvent message
    * (the wire's multi-record cardinality). */
  def openLineSink(
      f: File,
      append: Boolean = false,
      recordsPerEvent: Int = EventStreamFraming.DefaultRecordsPerEvent,
      continuation: Boolean = false,
  ): LineSink =
    if (f.getName.endsWith(FramedExtension))
      new FramedLineSink(f, append, recordsPerEvent, continuation)
    else new TextLineSink(f, append)

  /** The extension a derived target keeps when preserving `f`'s
    * encoding. */
  def extensionOf(f: File): String =
    if (f.getName.endsWith(FramedExtension)) FramedExtension else ".log"

  /** Run `op` over every line of a shard file (either encoding). */
  def eachLine(f: File)(op: String => Unit): Unit = {
    val in = openLines(f)
    try {
      var line = in.readLine()
      while (line != null) { op(line); line = in.readLine() }
    } finally in.close()
  }

  /** In-stream exception record (S10 event/exception demux): a log line
    * `#ERROR\t<class>` makes the reader raise the corresponding typed
    * exception the first time it is reached — the stand-in for a
    * SubscribeToShardEvent stream that carries an exception frame instead
    * of records (subscribe_to_shard.ex:329-341). */
  val ErrorMarker = "#ERROR"

  final case class Record(
      seq: Long,
      arrivalMicros: Long,
      partitionKey: String,
      dataB64: String,
  )

  def parseLine(line: String): Option[Record] =
    if (line.isEmpty || line.startsWith("#")) None
    else {
      // limit -1: a record with an EMPTY data field keeps its trailing
      // tab-separated slot (the default split drops trailing empties).
      val parts = line.split("\t", -1)
      Some(Record(parts(0).toLong, parts(1).toLong, parts(2), parts(3)))
    }

  def shardFiles(dir: String): Seq[File] = {
    val d = new File(dir)
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.matches("shard-\\d+\\.(log|elog)"))
      .sortBy(_.getName).toSeq
  }

  def shardId(f: File): String =
    f.getName.stripSuffix(FramedExtension).stripSuffix(".log")

  /** The file holding `shardId` under `dir`: the framed `.elog` when it
    * exists, else the text `.log`. */
  def shardFile(dir: String, shardId: String): File = {
    val framed = new File(dir, shardId + FramedExtension)
    if (framed.exists()) framed else new File(dir, s"$shardId.log")
  }

  /** Driver-side metadata scan (the analog of Kafka's listOffsets): fold
    * over a shard file (either encoding) without materializing it. */
  private def foldLines[A](f: File, zero: A)(op: (A, String) => A): A = {
    if (!f.exists()) return zero
    val in = openLines(f)
    try {
      var acc  = zero
      var line = in.readLine()
      while (line != null) {
        acc = op(acc, line)
        line = in.readLine()
      }
      acc
    } finally in.close()
  }

  /** Driver-side shard metadata, cached by (mtime, length) so an
    * unchanged shard file costs O(1) per microbatch — the analog of
    * Kafka's O(1) listOffsets metadata. The log is append-only, so any
    * append changes the length and misses the entry; for a framed shard
    * the miss resumes the scan where the entry's [[ScanMark]] stopped,
    * so per-batch driver work is O(appended bytes), not O(shard). */
  private final case class ShardMeta(
      mtime: Long, length: Long, maxSeq: Long, closed: Boolean, mark: ScanMark)

  /** Where a framed shard's metadata scan stopped, and its seek index:
    *  - `end` is the byte just past the last complete frame, which starts
    *    at `lastOff` (-1 when there is none) and carries message CRC
    *    `lastCrc`; a later scan resumes at `end` only if that frame still
    *    verifies;
    *  - `offsets(i)` is the byte just past a Records event, at least
    *    [[SeekStride]] bytes after the previous entry, and `conts(i)` the
    *    highest continuation at or before it (ascending). Every record
    *    before `offsets(i)` has a sequence number ≤ `conts(i)`.
    * Text shards keep [[NoMark]]: they scan in full and read from byte 0. */
  private final case class ScanMark(
      end: Long, lastOff: Long, lastCrc: Int,
      conts: Array[Long], offsets: Array[Long])
  private val NoMark =
    ScanMark(0L, -1L, 0, Array.emptyLongArray, Array.emptyLongArray)

  /** Seek index spacing: a few KB of index per 10 MB of shard, and a
    * seeking reader decodes at most ~64 KB (plus one event) of already
    * delivered records before its cursor. */
  private val SeekStride = 64L * 1024

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardMeta]()

  /** Number of metadata scans performed, full or resumed (test
    * observability: an unchanged file must not re-scan). */
  private[sources] val metaScans = new java.util.concurrent.atomic.AtomicLong

  /** Shard bytes read by metadata scans, boundary re-verification
    * included (test observability: an append costs the appended bytes
    * plus one boundary frame). */
  private[sources] val metaBytesScanned =
    new java.util.concurrent.atomic.AtomicLong

  private def shardMeta(f: File): ShardMeta = {
    if (!f.exists()) return ShardMeta(0L, 0L, -1L, closed = false, NoMark)
    val key    = f.getAbsolutePath
    val mtime  = f.lastModified()
    val length = f.length()
    val cached = metaCache.get(key)
    if (cached != null && cached.mtime == mtime && cached.length == length) cached
    else {
      metaScans.incrementAndGet()
      val fresh =
        if (f.getName.endsWith(FramedExtension))
          scanFramed(f, mtime, length, Option(cached))
        else {
          val (mx, cl) = scanText(f)
          metaBytesScanned.addAndGet(length)
          ShardMeta(mtime, length, mx, cl, NoMark)
        }
      metaCache.put(key, fresh)
      fresh
    }
  }

  /** The framed (maxSeq, closed, seek index) fold — metadata-ONLY
    * decode, because this scan runs on the DRIVER (the full event decode
    * — Jackson tree, base64 strings, Record allocation — measured
    * 250–600 ms per 16-shard scan at sf0.1). The wire writes each
    * envelope's continuation as its LAST record's sequence number and
    * per-shard sequence is ascending, so max(record seq) ==
    * max(continuation): only the continuation field is parsed
    * ([[EventStreamFraming.decodeToMeta]]), and both CRCs of every frame
    * are still verified. The fold continues `prev` from its mark's end
    * when the file has not shrunk below it and the boundary frame still
    * verifies with its recorded message CRC; otherwise (no entry, a
    * shrunk or rewritten file) it starts cold at byte 0. Equality of the
    * resumed fold, the cold fold and the full decode is pinned by
    * KinesisLikeSourceSpec. */
  private def scanFramed(
      f: File, mtime: Long, length: Long, prev: Option[ShardMeta]): ShardMeta = {
    val in = new FileInputStream(f)
    try {
      val base  = prev.filter(p => boundaryIntact(in.getChannel, p.mark))
      val start = base.fold(0L)(_.mark.end)
      in.getChannel.position(start)
      var mx      = base.fold(-1L)(_.maxSeq)
      var cl      = base.exists(_.closed)
      var lastOff = base.fold(-1L)(_.mark.lastOff)
      var lastCrc = base.fold(0)(_.mark.lastCrc)
      val conts   = Array.newBuilder[Long]
      val offsets = Array.newBuilder[Long]
      base.foreach { b => conts.addAll(b.mark.conts); offsets.addAll(b.mark.offsets) }
      var indexed = base.flatMap(_.mark.offsets.lastOption).getOrElse(0L)
      var off     = start
      val decoder = new EventStreamFraming.FrameDecoder
      val chunk   = new Array[Byte](EventStreamFraming.ChunkBytes)
      var n = in.read(chunk)
      while (n >= 0) {
        decoder.feed(chunk, 0, n).foreach { msg =>
          val (headers, payload) = EventStreamFraming.decodeMessage(msg)
          val next = off + msg.length
          EventStreamFraming.decodeToMeta(headers, payload) match {
            case Some(Right(cont)) =>
              if (cont > mx) mx = cont
              if (next - indexed >= SeekStride) {
                conts += mx; offsets += next; indexed = next
              }
            case Some(Left(_)) => cl = true
            case None          =>
          }
          lastOff = off
          lastCrc = EventStreamFraming.messageCrc(msg)
          off = next
        }
        n = in.read(chunk)
      }
      require(!decoder.isMidFrame,
        s"truncated event-stream frame at EOF in $f")
      metaBytesScanned.addAndGet(off - start)
      ShardMeta(mtime, length, mx, cl,
        ScanMark(off, lastOff, lastCrc, conts.result(), offsets.result()))
    } finally in.close()
  }

  /** True when the frame `m` recorded last still ends at `m.end`, passes
    * both CRCs and carries the recorded message CRC — what lets a scan
    * resume at `m.end` instead of byte 0. */
  private def boundaryIntact(ch: java.nio.channels.FileChannel, m: ScanMark): Boolean =
    m.lastOff >= 0 && ch.size() >= m.end && {
      val buf = java.nio.ByteBuffer.allocate((m.end - m.lastOff).toInt)
      while (buf.hasRemaining && ch.read(buf, m.lastOff + buf.position()) > 0) ()
      metaBytesScanned.addAndGet(buf.position().toLong)
      val msg = buf.array()
      !buf.hasRemaining && EventStreamFraming.messageCrc(msg) == m.lastCrc &&
        scala.util.Try(EventStreamFraming.decodeMessage(msg)).isSuccess
    }

  /** The text (maxSeq, closed) fold: reads only the seq prefix of each
    * line. */
  private def scanText(f: File): (Long, Boolean) = {
    val in = new BufferedReader(
      new InputStreamReader(new FileInputStream(f), UTF_8))
    var mx = -1L
    var cl = false
    try {
      var line = in.readLine()
      while (line != null) {
        if (line == ClosedMarker) cl = true
        else if (line.nonEmpty && line.charAt(0) != '#') {
          val tab = line.indexOf('\t')
          val seq = (if (tab < 0) line else line.substring(0, tab)).toLong
          if (seq > mx) mx = seq
        }
        line = in.readLine()
      }
    } finally in.close()
    (mx, cl)
  }

  /** Where a reader resuming after `cursor` may start reading `f`: the
    * byte just past the last indexed Records event whose continuation is
    * ≤ `cursor`, or 0 when there is none (always, for a text shard or a
    * shard no scan has seen). Reads the cached index without re-scanning:
    * the index names only frames a scan already verified, so on an
    * append-only shard a cached entry stays valid as the file grows. */
  def seekOffset(f: File, cursor: Long): Long = {
    val m = metaCache.get(f.getAbsolutePath)
    if (m == null) return 0L
    val conts = m.mark.conts
    var lo    = 0
    var hi    = conts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (conts(mid) <= cursor) lo = mid + 1 else hi = mid
    }
    if (lo == 0) 0L else m.mark.offsets(lo - 1)
  }

  /** Drop cached shard metadata for every file under `logDir`. The
    * (mtime, length) cache key cannot see a shard file replaced with
    * different content of identical length within the filesystem's mtime
    * granularity — exactly the recycled-log-path scenario that
    * `KinesisLikeStatus.reset` exists for — so stream construction
    * invalidates here alongside that reset and each new stream lifetime
    * re-scans once. */
  def invalidateMeta(logDir: String): Unit = {
    val prefix = new File(logDir).getAbsolutePath + File.separator
    metaCache.keySet().removeIf(k => k.startsWith(prefix))
    tsIndexCache.keySet().removeIf(k => k.startsWith(prefix))
  }

  /** Warm [[shardMeta]] for every shard of `logDir` with the per-shard
    * scans running in parallel (ForkJoin common pool): the folds are
    * independent file reads feeding a concurrent cache, and the driver
    * otherwise walks them serially at every stream start. Exceptions
    * (e.g. a corrupt frame) propagate to the caller like the serial
    * walk's would. */
  def prefetchMeta(logDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    shardFiles(logDir).asJava.parallelStream().forEach(f => { maxSeq(f); () })
  }

  /** Per-shard `at_timestamp` index, cached by (mtime, length) exactly
    * like [[shardMeta]], so repeated timestamp starts cost an O(log n)
    * binary search instead of an O(shard) driver-side rescan per query
    * start — the same "driver-side work is metadata-only" posture maxSeq
    * enjoys. The index is the INCREASING-ARRIVAL ENVELOPE of the shard:
    * scanning records in file order (= ascending sequence, the log
    * format contract), keep a record iff its arrival strictly exceeds
    * the running max. Any dropped record r is dominated by an earlier
    * kept record k with seq(k) < seq(r) and arrival(k) ≥ arrival(r), so
    * whenever r qualifies for a cut T (arrival ≥ T), k qualifies with a
    * smaller sequence — the envelope answers min{seq : arrival ≥ T}
    * exactly, for MONOTONE and non-monotone arrivals alike. Envelope
    * entries are ascending in both coordinates, so the lookup is a
    * binary search on arrivals. */
  private final case class TsIndex(
      mtime: Long, length: Long, arrivals: Array[Long], seqs: Array[Long])
  private val tsIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, TsIndex]()

  /** Number of full at_timestamp index builds (test observability: a
    * second timestamp start on an unchanged file must not re-scan). */
  private[sources] val tsIndexScans = new java.util.concurrent.atomic.AtomicLong

  private def tsIndex(f: File): TsIndex = {
    if (!f.exists()) return TsIndex(0L, 0L, Array.empty, Array.empty)
    val key    = f.getAbsolutePath
    val mtime  = f.lastModified()
    val length = f.length()
    val cached = tsIndexCache.get(key)
    if (cached != null && cached.mtime == mtime && cached.length == length) cached
    else {
      tsIndexScans.incrementAndGet()
      val arrivals = scala.collection.mutable.ArrayBuffer.empty[Long]
      val seqs     = scala.collection.mutable.ArrayBuffer.empty[Long]
      foldLines(f, Long.MinValue) { (runMax, l) =>
        parseLine(l) match {
          case Some(r) if r.arrivalMicros > runMax =>
            arrivals += r.arrivalMicros
            seqs += r.seq
            r.arrivalMicros
          case _ => runMax
        }
      }
      val fresh = TsIndex(mtime, length, arrivals.toArray, seqs.toArray)
      tsIndexCache.put(key, fresh)
      fresh
    }
  }

  /** Highest sequence number present; -1 for an empty shard. */
  def maxSeq(f: File): Long = shardMeta(f).maxSeq

  /** Shard-closed ⇔ the nil-continuation marker has been written
    * (subscribe_to_shard.ex:356-363). */
  def isClosed(f: File): Boolean = shardMeta(f).closed

  /** Resolve a starting position to the "after" cursor the offset model
    * uses: deliver every record with seq > cursor. Mirrors the wire
    * variants (subscribe_to_shard.ex:424-435):
    *   trim_horizon → everything; latest → only records appended after
    *   query start; at/after_sequence_number → inclusive/exclusive cut;
    *   at_timestamp → first record at-or-after the instant.
    */
  def resolveInitial(f: File, pos: StartingPosition): Long = pos match {
    case StartingPosition.TrimHorizon            => -1L
    case StartingPosition.Latest                 => maxSeq(f)
    case StartingPosition.AtSequenceNumber(n)    => n - 1
    case StartingPosition.AfterSequenceNumber(n) => n
    case StartingPosition.AtTimestamp(ts) =>
      val micros = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
      // First envelope entry with arrival ≥ the instant (see [[tsIndex]]);
      // past-the-end behaves like latest.
      val idx = tsIndex(f)
      var lo  = 0
      var hi  = idx.arrivals.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (idx.arrivals(mid) >= micros) hi = mid else lo = mid + 1
      }
      if (lo == idx.arrivals.length) maxSeq(f) else idx.seqs(lo) - 1
  }

  /** Build a shard log directory from the driver-generated events table —
    * the test-fixture generator standing in for the producer side of
    * Kinesis (no network in the image). Idempotent via a ready marker.
    *
    * `copies` > 1 writes each record that many times (adjacent, same
    * sequence number) to simulate at-least-once redelivery.
    *
    * Fixture-scale only: streams rows through toLocalIterator (never a
    * full collect); the engine's scale path READS this log, it does not
    * write it.
    */
  /** With `sentinel = true`, one extra record (user_id -1, event_type
    * "sentinel", 30 days past the last event) is appended to shard 0 —
    * it exists to advance the event-time watermark past every real
    * session so append-mode session windows all emit (the streaming
    * analog of "the stream kept running after the data of interest"). */
  def writeFromEvents(
      spark: SparkSession,
      sfDir: String,
      logDir: String,
      numShards: Int = 4,
      copies: Int = 1,
      sentinel: Boolean = false,
  ): Unit = synchronized {
    val ready = Paths.get(logDir, ReadyMarker)
    if (Files.exists(ready)) return
    Files.createDirectories(Paths.get(logDir))
    val ev = graft.Tables
      .events(spark, sfDir)
      .select(
        col("event_id"),
        unix_micros(col("ts")).as("micros"),
        col("user_id"),
        // Explicit µs-precision timestamp format: to_json's default
        // truncates to milliseconds, which silently loses the fixture's
        // microsecond tails (v2 log layout; session-duration arithmetic
        // downstream needs the exact instants the parquet carries).
        to_json(
          struct(
            col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")),
          java.util.Map.of(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
          .as("payload"))
      .orderBy(col("event_id"))
    val writers = (0 until numShards).map { i =>
      Files.newBufferedWriter(
        Paths.get(logDir, f"shard-$i%05d.log"), UTF_8)
    }
    try {
      var lastSeq    = -1L
      var lastMicros = 0L
      // Seam invariant the point-in-time replay (q126) depends on:
      // per-shard arrival must be MONOTONE in sequence number, or a
      // record after the at_timestamp cursor with ts < T would be
      // counted by BOTH the history leg (ts < T) and the live leg. The
      // driver's fixtures satisfy it (ts monotone in event_id); this
      // assertion makes a future fixture regeneration that silently
      // violates it fail LOUDLY at log-build time instead of as an
      // oracle hash mismatch two steps later.
      val lastShardMicros = Array.fill(numShards)(Long.MinValue)
      val it = ev.toLocalIterator()
      while (it.hasNext) {
        val r      = it.next()
        val seq    = r.getLong(0)
        val micros = r.getLong(1)
        val user   = r.getLong(2)
        val b64 = java.util.Base64.getEncoder
          .encodeToString(r.getString(3).getBytes(UTF_8))
        // floorMod: a partition-key hash must be non-negative for EVERY
        // key — Scala % of a negative user_id is negative and would
        // index out of bounds (Kinesis hashes the partition key; a raw
        // modulo is only its stand-in when the key can't be negative).
        val shard = java.lang.Math.floorMod(user, numShards.toLong).toInt
        require(
          micros >= lastShardMicros(shard),
          s"events fixture violates the per-shard monotone-arrival seam " +
            s"invariant (q126): event_id $seq arrives at $micros µs, " +
            s"before shard $shard's previous arrival " +
            s"${lastShardMicros(shard)} µs")
        lastShardMicros(shard) = micros
        val w = writers(shard)
        var c = 0
        while (c < copies) {
          w.write(s"$seq\t$micros\t$user\t$b64\n")
          c += 1
        }
        lastSeq = math.max(lastSeq, seq)
        lastMicros = math.max(lastMicros, micros)
      }
      if (sentinel) {
        val us = lastMicros + 30L * 24 * 3600 * 1000000L
        val ts = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
        val payload =
          s"""{"event_id":${lastSeq + 1},"ts":"$ts","user_id":-1,""" +
            """"event_type":"sentinel","value":0.0,"props":"{}"}"""
        val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes(UTF_8))
        writers(0).write(s"${lastSeq + 1}\t$us\t-1\t$b64\n")
      }
      writers.foreach { w => w.write(ClosedMarker + "\n") }
    } finally writers.foreach(_.close())
    Files.createFile(ready)
  }

  /** Split-replay pair for the `latest` starting-position seam (S13's
    * default variant, producer.ex:22; gap caveat producer.ex:209-210),
    * derived ONCE per (base, cut) and ready-marker cached: `split/`
    * holds each shard's seq ≤ cut prefix encoded as a normal shard file
    * (initial-response open, shards left OPEN — no closed marker) so a
    * consumer can subscribe `latest` against the pre-append high-water
    * mark, and `tail/` holds each shard's seq > cut suffix plus the
    * closed marker encoded as a CONTINUATION fragment (no
    * initial-response — it is only ever appended onto a prefix, never
    * read alone). Frames are self-delimiting, so CONSUMING a pair is
    * pure byte I/O with no re-encode: [[materializeSplit]] copies the
    * prefix files into a fresh per-run scratch dir (the target MUTATES
    * mid-query — "the stream kept producing after the consumer
    * subscribed" — so the scratch copy is per run; a cached mutated log
    * would replay the tail twice), and [[appendCachedTail]] appends the
    * tail bytes. The ENCODE cost — at sf1 the dominant cost of the q127
    * proof (r18 verdict: 20.3 s, all derivation) — is paid once per
    * corpus snapshot instead of twice per run. Encoding-preserving:
    * a framed base derives framed fragments. */
  def deriveSplitPair(baseDir: String, pairDir: String, cut: Long): Unit =
    synchronized {
      val ready = Paths.get(pairDir, ReadyMarker)
      if (Files.exists(ready)) return
      Files.createDirectories(Paths.get(pairDir, "split"))
      Files.createDirectories(Paths.get(pairDir, "tail"))
      shardFiles(baseDir).foreach { f =>
        val name = shardId(f) + extensionOf(f)
        val w = openLineSink(new File(new File(pairDir, "split"), name))
        try foldLines(f, ()) { (_, l) =>
          parseLine(l).foreach(r => if (r.seq <= cut) w.writeLine(l))
        } finally w.close()
        val t = openLineSink(
          new File(new File(pairDir, "tail"), name), continuation = true)
        try {
          foldLines(f, ()) { (_, l) =>
            parseLine(l).foreach(r => if (r.seq > cut) t.writeLine(l))
          }
          t.writeLine(ClosedMarker)
        } finally t.close()
      }
      Files.createFile(ready)
    }

  /** Copy a [[deriveSplitPair]] prefix into a fresh mutable target —
    * pure byte copy. */
  def materializeSplit(pairDir: String, targetDir: String): Unit =
    synchronized {
      Files.createDirectories(Paths.get(targetDir))
      Option(new File(pairDir, "split").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("shard-"))
        .foreach { f =>
          Files.copy(f.toPath, Paths.get(targetDir, f.getName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }

  /** Append a [[deriveSplitPair]] tail (suffix records + closed
    * markers) onto a [[materializeSplit]]-built target — pure byte
    * append. */
  def appendCachedTail(pairDir: String, targetDir: String): Unit =
    synchronized {
      Option(new File(pairDir, "tail").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("shard-"))
        .foreach { f =>
          Files.write(
            Paths.get(targetDir, f.getName), Files.readAllBytes(f.toPath),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
    }

  /** Derive a variant carrying an IN-STREAM exception record: copies the
    * base log, inserting `#ERROR\t<spec>` into shard 0 immediately before
    * its first record with seq > afterSeq — "the event stream delivered
    * an exception frame mid-subscription" (subscribe_to_shard.ex:329-341).
    * The reader raises the typed class ONCE per (dir, faultRunId) budget,
    * so a producer's retry from the committed cursor passes the marker
    * and drains the tail (producer.ex:159-168's partial-events-kept
    * semantics, exercised end-to-end by q129). Pure line transformation,
    * idempotent via the ready marker. */
  def deriveWithError(
      baseDir: String,
      targetDir: String,
      afterSeq: Long,
      spec: String,
      times: Int = 1,
  ): Unit = synchronized {
    val ready = Paths.get(targetDir, ReadyMarker)
    if (Files.exists(ready)) return
    Files.createDirectories(Paths.get(targetDir))
    var injected = false
    shardFiles(baseDir).zipWithIndex.foreach { case (f, idx) =>
      // Encoding-preserving: on a framed base the planted marker line
      // becomes a REAL exception message (`:exception-type` header) —
      // the S10 demux exercised at the byte tier.
      val w = openLineSink(
        new File(targetDir, shardId(f) + extensionOf(f)))
      try {
        foldLines(f, ()) { (_, l) =>
          if (idx == 0 && !injected &&
              parseLine(l).exists(_.seq > afterSeq)) {
            w.writeLine(s"$ErrorMarker\t$spec\t$times")
            injected = true
          }
          w.writeLine(l)
        }
      } finally w.close()
    }
    // A variant that silently planted NOTHING would let the error/retry
    // proof pass as a plain clean drain — refuse to build it.
    require(injected,
      s"deriveWithError: no shard-0 record with seq > $afterSeq in " +
        s"$baseDir — the exception record was never planted")
    Files.createFile(ready)
  }

  /** Derive a log variant (duplicated records and/or a sentinel) from an
    * already-built base log by pure line transformation — no Spark job,
    * so query packs that need several variants of the same sf dir pay the
    * Spark read once. Idempotent via the ready marker. */
  def derive(
      baseDir: String,
      targetDir: String,
      copies: Int,
      sentinel: Boolean,
  ): Unit = synchronized {
    val ready = Paths.get(targetDir, ReadyMarker)
    if (Files.exists(ready)) return
    Files.createDirectories(Paths.get(targetDir))
    val shards = shardFiles(baseDir)
    var lastSeq    = -1L
    var lastMicros = 0L
    shards.foreach { f =>
      foldLines(f, ()) { (_, l) =>
        parseLine(l).foreach { r =>
          lastSeq = math.max(lastSeq, r.seq)
          lastMicros = math.max(lastMicros, r.arrivalMicros)
        }
      }
    }
    shards.zipWithIndex.foreach { case (f, idx) =>
      val w = Files.newBufferedWriter(
        Paths.get(targetDir, shardId(f) + ".log"), UTF_8)
      try {
        foldLines(f, ()) { (_, l) =>
          if (parseLine(l).isDefined) {
            var c = 0
            while (c < copies) { w.write(l + "\n"); c += 1 }
          }
        }
        if (sentinel && idx == 0) {
          val us = lastMicros + 30L * 24 * 3600 * 1000000L
          val ts = java.time.Instant.EPOCH
            .plus(us, java.time.temporal.ChronoUnit.MICROS)
          val payload =
            s"""{"event_id":${lastSeq + 1},"ts":"$ts","user_id":-1,""" +
              """"event_type":"sentinel","value":0.0,"props":"{}"}"""
          val b64 = java.util.Base64.getEncoder
            .encodeToString(payload.getBytes(UTF_8))
          w.write(s"${lastSeq + 1}\t$us\t-1\t$b64\n")
        }
        w.write(ClosedMarker + "\n")
      } finally w.close()
    }
    Files.createFile(ready)
  }
}
