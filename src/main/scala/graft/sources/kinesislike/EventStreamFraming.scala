package graft.sources.kinesislike

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** Byte-level AWS event-stream encoding for the shard log — the fidelity
  * tier for the reference's largest state machine (the frame parser of
  * subscribe_to_shard.ex:273-327) plus its header demux
  * (subscribe_to_shard.ex:320-341) and its payload decode
  * (subscribe_to_shard.ex:343-366). The wire format is the public AWS
  * event-stream encoding (docs.aws.amazon.com/transcribe/latest/dg/
  * event-stream.html), implemented in full:
  *
  *   prelude:  total length (4B BE, includes the whole message)
  *             headers length (4B BE)
  *             prelude CRC (4B BE, CRC-32 of the first 8 bytes)
  *   headers:  repeated [name len (1B)][name][value type (1B = 7,
  *             string)][value len (2B BE)][value]
  *   payload
  *   message CRC (4B BE, CRC-32 of everything before it)
  *
  * The reference's reassembly countdown is `:binary.decode_unsigned(
  * first_4_bytes) - 4` (subscribe_to_shard.ex:298) — mirrored by
  * [[FrameDecoder]] — and its header demux is a fixed vocabulary:
  * `:message-type` event/exception, `:event-type` initial-response (a
  * skip, subscribe_to_shard.ex:341) / SubscribeToShardEvent,
  * `:content-type` asserted to application/x-amz-json-1.1
  * (subscribe_to_shard.ex:320-322), and `:exception-type` naming the
  * typed error (subscribe_to_shard.ex:336-338; the test-side encoder is
  * test/support/fake_kinesis.ex:28-42). HTTP/2 delivers at most 16 KB
  * per data frame, so one logical record (up to 1 MB pre-base64) spans
  * MANY chunks and the parser reassembles partial frames across reads
  * (subscribe_to_shard_test.exs:220-245 — mirrored by
  * EventStreamFramingSpec's 1 MB / 16 KB round-trip).
  *
  * A `SubscribeToShardEvent` message's payload is the reference's JSON
  * envelope (subscribe_to_shard.ex:343-366; fixture at
  * subscribe_to_shard_test.exs:230-234):
  *
  *   {"ContinuationSequenceNumber":"<seq>","MillisBehindLatest":0,
  *    "Records":[{"SequenceNumber":"...",
  *                "ApproximateArrivalTimestamp":<epoch.micros>,
  *                "PartitionKey":"...","Data":"<base64>"}, ...]}
  *
  * with possibly MANY records per event message (one resume-position
  * advance covers the whole event — handle_event,
  * subscribe_to_shard.ex:343-354) and a null continuation signalling
  * shard-closed (subscribe_to_shard.ex:356-363). The `Data` field is
  * base64 exactly as `ExAws.Kinesis.decode_records` receives it; the
  * arrival timestamp is written as an exact-decimal epoch-seconds
  * number (6 fractional digits) so the v2 log layout's microsecond
  * fidelity survives the JSON tier without any float round-trip. An
  * in-stream error is an `exception` message whose `:exception-type`
  * header names the class. A framed shard file (`shard-NNNNN.elog`)
  * opens with an `initial-response` event message (skipped on decode,
  * like the reference), then carries record events of up to
  * [[DefaultRecordsPerEvent]] records each.
  */
object EventStreamFraming {

  /** The HTTP/2 data-frame ceiling the reference's parser reassembles
    * across (subscribe_to_shard_test.exs:221-222). */
  val ChunkBytes = 16 * 1024

  /** Records grouped into one SubscribeToShardEvent message by the
    * framed sink — the multi-record-per-event cardinality of the real
    * wire (subscribe_to_shard_test.exs:230-234 fixtures carry a Records
    * LIST). Cursor advance is per EVENT: resuming after a continuation
    * skips the whole event; an admission cap landing mid-event defers
    * the remainder to the next microbatch via the reader's seam filter
    * (exactly-once either way — KinesisLikeSourceSpec pins a mid-event
    * cap). */
  val DefaultRecordsPerEvent = 3

  /** Sanity ceiling on one message: a Kinesis record is ≤ 1 MB
    * pre-base64 (≈1.4 MB encoded) plus envelope framing and headers,
    * times the per-event record grouping — 8 MiB is generous. A corrupt
    * prelude claiming more fails FAST at the prelude, not as a
    * truncation error at EOF after buffering the rest of the file. */
  val MaxMessageBytes: Int = 8 * 1024 * 1024

  /** Smallest legal message: 12-byte prelude + 0 headers + 0 payload +
    * 4-byte message CRC. */
  val MinMessageBytes: Int = 16

  // The reference's header vocabulary (subscribe_to_shard.ex:320-341,
  // fake_kinesis.ex:28-42).
  val ContentTypeHeader   = ":content-type"
  val MessageTypeHeader   = ":message-type"
  val EventTypeHeader     = ":event-type"
  val ExceptionTypeHeader = ":exception-type"
  val ContentTypeValue    = "application/x-amz-json-1.1"
  val EventMessageType     = "event"
  val ExceptionMessageType = "exception"
  val SubscribeEventType   = "SubscribeToShardEvent"
  val InitialResponseType  = "initial-response"

  /** One shared Jackson mapper (thread-safe once configured): floats
    * parse as BigDecimal so the exact-decimal arrival timestamp
    * round-trips to microseconds without touching a Double. Jackson is
    * Spark's own JSON dependency — no new library. */
  private val mapper: ObjectMapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  private def putBe32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = ((v >>> 24) & 0xff).toByte
    out(off + 1) = ((v >>> 16) & 0xff).toByte
    out(off + 2) = ((v >>> 8) & 0xff).toByte
    out(off + 3) = (v & 0xff).toByte
  }

  private def be32(bytes: Array[Byte], off: Int): Int =
    ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
      ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)

  /** Encode one full event-stream message (prelude + string headers +
    * payload + CRCs). Header values are type-7 (string) — the only type
    * the reference's vocabulary uses. */
  def encodeMessage(
      headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val headerBytes = headers.map { case (name, value) =>
      val n = name.getBytes(UTF_8)
      val v = value.getBytes(UTF_8)
      require(n.length <= 255, s"header name too long: $name")
      require(v.length <= 65535, s"header value too long for $name")
      val h = new Array[Byte](1 + n.length + 1 + 2 + v.length)
      h(0) = n.length.toByte
      System.arraycopy(n, 0, h, 1, n.length)
      h(1 + n.length) = 7 // value type: string
      h(2 + n.length) = ((v.length >>> 8) & 0xff).toByte
      h(3 + n.length) = (v.length & 0xff).toByte
      System.arraycopy(v, 0, h, 4 + n.length, v.length)
      h
    }
    val headersLen = headerBytes.map(_.length).sum
    val total      = 12 + headersLen + payload.length + 4
    require(total <= MaxMessageBytes,
      s"message of $total bytes exceeds the $MaxMessageBytes ceiling")
    val out = new Array[Byte](total)
    putBe32(out, 0, total)
    putBe32(out, 4, headersLen)
    putBe32(out, 8, crc32(out, 0, 8))
    var i = 12
    headerBytes.foreach { h =>
      System.arraycopy(h, 0, out, i, h.length); i += h.length
    }
    System.arraycopy(payload, 0, out, i, payload.length)
    putBe32(out, total - 4, crc32(out, 0, total - 4))
    out
  }

  /** Event message with the reference's standard header triple
    * (fake_kinesis.ex:37-39). */
  def encodeEvent(eventType: String, payload: Array[Byte]): Array[Byte] =
    encodeMessage(
      Seq(
        ContentTypeHeader -> ContentTypeValue,
        MessageTypeHeader -> EventMessageType,
        EventTypeHeader   -> eventType),
      payload)

  /** Exception message: `:exception-type` names the class
    * (fake_kinesis.ex:41-42); payload carries the message JSON plus the
    * fixture's raise budget. */
  def encodeException(
      exceptionType: String, payload: Array[Byte]): Array[Byte] =
    encodeMessage(
      Seq(
        ContentTypeHeader   -> ContentTypeValue,
        MessageTypeHeader   -> ExceptionMessageType,
        ExceptionTypeHeader -> exceptionType),
      payload)

  /** The connection-open message every framed shard starts with; the
    * decoder skips it (subscribe_to_shard.ex:341, fake_kinesis.ex:22). */
  def initialResponseMessage: Array[Byte] =
    encodeEvent(InitialResponseType, "{}".getBytes(UTF_8))

  /** Exact-decimal epoch seconds with 6 fractional digits — the wire's
    * numeric ApproximateArrivalTimestamp carrying the log's microsecond
    * precision losslessly (parsed back via BigDecimal, never a
    * Double). */
  private def arrivalDecimal(micros: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(micros, 6)

  private def arrivalMicros(n: JsonNode): Long =
    n.decimalValue().movePointRight(6).longValueExact()

  /** Encode one SubscribeToShardEvent carrying `records` — the
    * reference's JSON envelope (subscribe_to_shard.ex:343-366): the
    * continuation sequence number is the LAST record's sequence number
    * (where a resubscribe after this event resumes), `Data` stays
    * base64 exactly as decode_records receives it. */
  def encodeRecordsEvent(
      records: Seq[KinesisLikeLog.Record]): Array[Byte] = {
    require(records.nonEmpty, "a records event needs at least one record")
    val root = mapper.createObjectNode()
    root.put("ContinuationSequenceNumber", records.last.seq.toString)
    root.put("MillisBehindLatest", 0L)
    val arr = root.putArray("Records")
    records.foreach { r =>
      val o = arr.addObject()
      o.put("SequenceNumber", r.seq.toString)
      o.put("ApproximateArrivalTimestamp", arrivalDecimal(r.arrivalMicros))
      o.put("PartitionKey", r.partitionKey)
      o.put("Data", r.dataB64)
    }
    encodeEvent(SubscribeEventType, mapper.writeValueAsBytes(root))
  }

  /** The shard-closed control event: a null ContinuationSequenceNumber
    * with no records — the nil-continuation signal of
    * subscribe_to_shard.ex:356-363. */
  def closedEventMessage: Array[Byte] =
    encodeEvent(SubscribeEventType,
      """{"ContinuationSequenceNumber":null,"Records":[]}""".getBytes(UTF_8))

  /** Translate one log line to its wire message — the single-record
    * convenience of [[encodeRecordsEvent]] (the framed SINK groups
    * records into multi-record events; this function is the unit the
    * bijection property pins): a record line becomes a one-record
    * envelope event, the closed marker the null-continuation control
    * event, an `#ERROR` marker a typed exception message. */
  def encodeLine(line: String): Array[Byte] =
    if (line == KinesisLikeLog.ClosedMarker) closedEventMessage
    else if (line.startsWith(KinesisLikeLog.ErrorMarker)) {
      val parts = line.split('\t')
      val spec  = parts.lift(1).getOrElse("transport_closed")
      val times = parts.lift(2).getOrElse("1")
      encodeException(spec,
        s"""{"message":"injected","times":$times}""".getBytes(UTF_8))
    } else
      encodeRecordsEvent(Seq(KinesisLikeLog.parseLine(line).getOrElse(
        throw new IllegalArgumentException(
          s"not a record line: ${line.take(80)}"))))

  /** The message CRC a complete message carries in its last 4 bytes. */
  def messageCrc(msg: Array[Byte]): Int = be32(msg, msg.length - 4)

  /** Decode one complete message: verify BOTH CRCs, parse the headers,
    * return (headers, payload). `msg` includes the prelude — exactly what
    * [[FrameDecoder]] yields. */
  def decodeMessage(msg: Array[Byte]): (Map[String, String], Array[Byte]) = {
    require(msg.length >= MinMessageBytes,
      s"event-stream message of ${msg.length} bytes is shorter than " +
        s"the $MinMessageBytes-byte minimum")
    val total = be32(msg, 0)
    require(total == msg.length,
      s"prelude total $total != message length ${msg.length}")
    val headersLen = be32(msg, 4)
    require(crc32(msg, 0, 8) == be32(msg, 8),
      "event-stream prelude CRC mismatch")
    // Long arithmetic: a crafted headersLen near Int.MaxValue must fail
    // HERE with the pointed message, not later as a raw
    // ArrayIndexOutOfBounds inside copyOfRange.
    require(headersLen >= 0 && 12L + headersLen + 4L <= total,
      s"headers length $headersLen does not fit in message of $total")
    require(crc32(msg, 0, total - 4) == be32(msg, total - 4),
      "event-stream message CRC mismatch")
    var i   = 12
    val end = 12 + headersLen
    val headers = Map.newBuilder[String, String]
    while (i < end) {
      val nameLen = msg(i) & 0xff
      require(i + 1 + nameLen + 3 <= end, "truncated header")
      val name = new String(msg, i + 1, nameLen, UTF_8)
      i += 1 + nameLen
      require(msg(i) == 7, s"header $name: only string (7) values used")
      val valLen = ((msg(i + 1) & 0xff) << 8) | (msg(i + 2) & 0xff)
      require(i + 3 + valLen <= end, s"truncated value for header $name")
      headers += name -> new String(msg, i + 3, valLen, UTF_8)
      i += 3 + valLen
    }
    (headers.result(), java.util.Arrays.copyOfRange(msg, end, total - 4))
  }

  /** Demux one decoded message to the event vocabulary — the literal
    * mirror of handle_message/handle_event/decode_message
    * (subscribe_to_shard.ex:329-366): asserts the content type, skips
    * initial-response (None), parses a SubscribeToShardEvent's JSON
    * envelope (S12: the `Records` list, base64 `Data` intact, exact-µs
    * arrival), maps a null continuation to [[KinesisLikeLog.Closed]]
    * and an exception message to its typed class + raise budget. */
  def decodeToEvent(
      headers: Map[String, String],
      payload: Array[Byte]): Option[KinesisLikeLog.ShardEvent] = {
    // @content_type assertion, subscribe_to_shard.ex:320-322.
    require(headers.get(ContentTypeHeader).contains(ContentTypeValue),
      s"unexpected $ContentTypeHeader: ${headers.get(ContentTypeHeader)}")
    headers.getOrElse(MessageTypeHeader,
      throw new IllegalArgumentException(s"missing $MessageTypeHeader")) match {
      case EventMessageType =>
        headers.getOrElse(EventTypeHeader,
          throw new IllegalArgumentException(s"missing $EventTypeHeader")) match {
          case InitialResponseType => None // subscribe_to_shard.ex:341
          case SubscribeEventType =>
            val root = mapper.readTree(payload)
            val cont = root.path("ContinuationSequenceNumber")
            if (cont.isNull || cont.isMissingNode)
              Some(KinesisLikeLog.Closed) // subscribe_to_shard.ex:356-363
            else {
              val recs = Seq.newBuilder[KinesisLikeLog.Record]
              root.path("Records").forEach { r =>
                recs += KinesisLikeLog.Record(
                  seq = r.path("SequenceNumber").asText().toLong,
                  arrivalMicros =
                    arrivalMicros(r.path("ApproximateArrivalTimestamp")),
                  partitionKey = r.path("PartitionKey").asText(),
                  dataB64 = r.path("Data").asText())
              }
              Some(KinesisLikeLog.RecordsEvent(
                cont.asText().toLong, recs.result()))
            }
          case other =>
            throw new IllegalArgumentException(s"unknown event type $other")
        }
      case ExceptionMessageType =>
        val spec = headers.getOrElse(ExceptionTypeHeader, "transport_closed")
        val times = TimesRe
          .findFirstMatchIn(new String(payload, UTF_8))
          .map(_.group(1).toInt).getOrElse(1)
        Some(KinesisLikeLog.ErrorEvent(spec, times))
      case other =>
        throw new IllegalArgumentException(s"unknown message type $other")
    }
  }

  private val TimesRe = """"times"\s*:\s*(\d+)""".r

  /** Metadata-only demux of one decoded message — what the driver's
    * shard metadata scan ([[KinesisLikeLog.maxSeq]]/`isClosed`)
    * needs and nothing more: the continuation sequence number (or the
    * null-continuation closed signal). [[decodeToEvent]] builds every
    * Record (Jackson tree, base64 strings, arrival decimals) just so the
    * fold can take a max over seqs; since the wire writes the
    * continuation as the LAST record's sequence number and per-shard
    * sequence is ascending, max(record seq) == max(continuation) — so
    * the scan can stop at the envelope's first field via a streaming
    * parse and skip the Records array entirely. Header demux and the
    * content-type assertion are identical to [[decodeToEvent]]
    * (unknown types still fail fast); CRC verification happens in
    * [[decodeMessage]] as before.
    *
    * Returns: Some(Right(cont)) for a records event, Some(Left(()))
    * for the closed signal, None for everything the fold skips
    * (initial-response, exception messages). */
  def decodeToMeta(
      headers: Map[String, String],
      payload: Array[Byte]): Option[Either[Unit, Long]] = {
    require(headers.get(ContentTypeHeader).contains(ContentTypeValue),
      s"unexpected $ContentTypeHeader: ${headers.get(ContentTypeHeader)}")
    headers.getOrElse(MessageTypeHeader,
      throw new IllegalArgumentException(s"missing $MessageTypeHeader")) match {
      case EventMessageType =>
        headers.getOrElse(EventTypeHeader,
          throw new IllegalArgumentException(s"missing $EventTypeHeader")) match {
          case InitialResponseType => None
          case SubscribeEventType =>
            val p = mapper.getFactory.createParser(payload)
            try {
              require(p.nextToken() ==
                com.fasterxml.jackson.core.JsonToken.START_OBJECT,
                "records envelope is not a JSON object")
              var tok = p.nextToken()
              while (tok == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
                val name = p.currentName()
                tok = p.nextToken()
                if (name == "ContinuationSequenceNumber") {
                  return Some(
                    if (tok == com.fasterxml.jackson.core.JsonToken.VALUE_NULL)
                      Left(())
                    else Right(p.getText.toLong))
                }
                p.skipChildren()
                tok = p.nextToken()
              }
              // Field absent ⇒ missing node ⇒ the closed signal, exactly
              // as decodeToEvent's isMissingNode branch.
              Some(Left(()))
            } finally p.close()
          case other =>
            throw new IllegalArgumentException(s"unknown event type $other")
        }
      case ExceptionMessageType => None
      case other =>
        throw new IllegalArgumentException(s"unknown message type $other")
    }
  }

  /** [[decodeToEvent]] rendered back to line-space — the flatten the
    * driver-side metadata folds and fixture derivations consume (the
    * reader itself consumes events, [[FramedEventSource]]). */
  def decodeToLines(
      headers: Map[String, String], payload: Array[Byte]): Seq[String] =
    decodeToEvent(headers, payload) match {
      case None                          => Seq.empty
      case Some(KinesisLikeLog.Closed)   => Seq(KinesisLikeLog.ClosedMarker)
      case Some(KinesisLikeLog.ErrorEvent(spec, times)) =>
        Seq(s"${KinesisLikeLog.ErrorMarker}\t$spec\t$times")
      case Some(KinesisLikeLog.RecordsEvent(_, recs)) =>
        recs.map(r =>
          s"${r.seq}\t${r.arrivalMicros}\t${r.partitionKey}\t${r.dataB64}")
    }

  /** Incremental frame reassembler — the `{buffer, msg_bytes_left}`
    * state machine of subscribe_to_shard.ex:277-327: feed arbitrary-size
    * chunks in arrival order; complete MESSAGES (prelude included, ready
    * for [[decodeMessage]]) are emitted as soon as their last byte
    * arrives, partial frames (including a split PRELUDE) wait in the
    * buffer. Single-consumer, like the reference's per-connection
    * parser. A prelude claiming fewer than [[MinMessageBytes]] or more
    * than [[MaxMessageBytes]] fails immediately at the prelude. */
  final class FrameDecoder {
    private val pending = new java.io.ByteArrayOutputStream(256)
    // -1 ⇒ reading the prelude (pending holds its first 0-3 bytes);
    // else message bytes still missing — the msg_bytes_left countdown.
    private var bytesLeft: Int = -1

    def feed(chunk: Array[Byte], off: Int, len: Int): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var i   = off
      val end = off + len
      while (i < end) {
        if (bytesLeft < 0) {
          pending.write(chunk(i)); i += 1
          if (pending.size == 4) {
            val p     = pending.toByteArray
            val total = be32(p, 0)
            require(total >= MinMessageBytes && total <= MaxMessageBytes,
              s"event-stream prelude claims $total bytes — outside " +
                s"[$MinMessageBytes, $MaxMessageBytes]; corrupt frame")
            bytesLeft = total - 4 // subscribe_to_shard.ex:298
          }
        } else {
          val take = math.min(bytesLeft, end - i)
          pending.write(chunk, i, take)
          i += take
          bytesLeft -= take
          if (bytesLeft == 0) {
            out += pending.toByteArray
            pending.reset()
            bytesLeft = -1
          }
        }
      }
      out.result()
    }

    /** True while a frame (or its prelude) is partially buffered — EOF in
      * this state means a truncated log. */
    def isMidFrame: Boolean = bytesLeft >= 0 || pending.size > 0
  }

  /** Streaming EVENT source over a framed shard file: reads in
    * [[ChunkBytes]] chunks (never materializing the file), reassembles
    * messages, verifies their CRCs, demuxes their headers, decodes each
    * Records envelope (S12), and yields events in wire order
    * (initial-response skipped). This is the reader's input — cursor
    * logic operates per EVENT, mirroring handle_event's one
    * resume-position advance per message. Reading starts at
    * `startByte`, which must be a frame boundary (a
    * [[KinesisLikeLog.seekOffset]]); one that is not fails on the first
    * frame's prelude or CRC, never silently. */
  final class FramedEventSource(f: File, startByte: Long = 0L)
      extends KinesisLikeLog.EventSource {
    private val in = new FileInputStream(f)
    try {
      require(startByte >= 0L && startByte <= in.getChannel.size(),
        s"seek offset $startByte lies outside $f")
      in.getChannel.position(startByte)
    } catch { case t: Throwable => in.close(); throw t }
    private val decoder = new FrameDecoder
    private val chunk   = new Array[Byte](ChunkBytes)
    private val queue =
      scala.collection.mutable.Queue.empty[KinesisLikeLog.ShardEvent]

    override def readEvent(): KinesisLikeLog.ShardEvent = {
      while (queue.isEmpty) {
        val n = in.read(chunk)
        if (n < 0) {
          require(!decoder.isMidFrame,
            s"truncated event-stream frame at EOF in $f")
          return null
        }
        decoder.feed(chunk, 0, n).foreach { msg =>
          val (headers, payload) = decodeMessage(msg)
          decodeToEvent(headers, payload).foreach(queue.enqueue(_))
        }
      }
      queue.dequeue()
    }

    override def close(): Unit = in.close()
  }

  /** Derive the framed twin of a line-log directory: every
    * `shard-NNNNN.log` becomes `shard-NNNNN.elog` — an initial-response
    * message, then Records-envelope events of up to `recordsPerEvent`
    * records, control markers demuxed into headers. Pure line
    * transformation, idempotent via the ready marker (the
    * [[KinesisLikeLog.derive]] convention). */
  def deriveFramed(
      baseDir: String,
      targetDir: String,
      recordsPerEvent: Int = DefaultRecordsPerEvent): Unit =
    synchronized {
      val ready = Paths.get(targetDir, KinesisLikeLog.ReadyMarker)
      if (Files.exists(ready)) return
      Files.createDirectories(Paths.get(targetDir))
      KinesisLikeLog.shardFiles(baseDir).foreach { f =>
        val sink = KinesisLikeLog.openLineSink(
          new File(targetDir,
            KinesisLikeLog.shardId(f) + KinesisLikeLog.FramedExtension),
          append = false, recordsPerEvent = recordsPerEvent)
        try KinesisLikeLog.eachLine(f)(sink.writeLine)
        finally sink.close()
      }
      Files.createFile(ready)
    }

  /** Derive a CORRUPTED twin of a framed log directory: every shard is
    * copied byte-for-byte, then one byte of the `messageIndex`-th
    * message of shard 0 (first payload byte) is flipped — the message
    * CRC can no longer verify, so any read of that shard must FAIL with
    * the pointed CRC error rather than silently skip or truncate
    * (q132's fail-fast contract; the corruption matrix of
    * EventStreamFramingSpec at the unit tier). Idempotent via the ready
    * marker. */
  def deriveCorrupted(
      baseDir: String, targetDir: String, messageIndex: Int): Unit =
    synchronized {
      val ready = Paths.get(targetDir, KinesisLikeLog.ReadyMarker)
      if (Files.exists(ready)) return
      Files.createDirectories(Paths.get(targetDir))
      KinesisLikeLog.shardFiles(baseDir).zipWithIndex.foreach {
        case (f, idx) =>
          val bytes = Files.readAllBytes(f.toPath)
          if (idx == 0) {
            // Walk the preludes to the target message, then flip its
            // first payload byte.
            var off = 0
            var m   = 0
            while (m < messageIndex) {
              require(off + 4 <= bytes.length,
                s"deriveCorrupted: shard 0 has only $m messages, " +
                  s"wanted index $messageIndex")
              off += be32(bytes, off); m += 1
            }
            require(off + 12 <= bytes.length,
              s"deriveCorrupted: shard 0 has only $m messages, " +
                s"wanted index $messageIndex")
            val headersLen = be32(bytes, off + 4)
            val payloadOff = off + 12 + headersLen
            require(payloadOff < off + be32(bytes, off) - 4,
              s"deriveCorrupted: message $messageIndex has no payload")
            bytes(payloadOff) = (bytes(payloadOff) ^ 0x01).toByte
          }
          Files.write(
            Paths.get(targetDir, f.getName), bytes)
      }
      Files.createFile(ready)
    }
}
