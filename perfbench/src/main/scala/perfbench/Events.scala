package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.sources.kinesislike.KinesisLikeLog

/** What the generator wrote, so the sink can be checked against it:
  * distinct record count, the sum of the distinct event ids, and the
  * value total per event type in integer cents. */
final case class Ledger(count: Long, idSum: Long, centsByType: Map[String, Long])

/** Seeded synthetic events in the fixture's `events` schema (event_id,
  * ts, user_id, event_type, value, props), so the repository's
  * `from_json` parse takes them unchanged. Users are zipf-skewed and a
  * record's shard is its user id modulo the shard count, the partition
  * key hash the repository's own log writer uses. */
object Events {
  val Shards = 16
  val Types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  private val TypeCum = Array(50, 75, 87, 95, 100)
  val Users = 20000
  private val ZipfS = 1.1
  /** 2024-01-01T00:00:00Z, the fixture's first event time. */
  val BaseMicros = 1704067200000000L
  val SentinelUser = -1L
  private val WriterThreads = 4

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** Columns of `n` generated events; event ids are dense from `firstId`
    * and event time advances by `stepMicros` per id. */
  final class Block(
      val ids: Array[Long], val users: Array[Long], val types: Array[Int],
      val cents: Array[Long], val micros: Array[Long], val k: Array[Int]) {
    def size: Int = ids.length
    def shardOf(i: Int): Int = java.lang.Math.floorMod(users(i), Shards.toLong).toInt
    def ledger: Ledger = {
      val byType = new Array[Long](Types.length)
      var i = 0
      while (i < size) { byType(types(i)) += cents(i); i += 1 }
      Ledger(size.toLong, ids.sum,
        Types.indices.filter(t => types.contains(t)).map(t => Types(t) -> byType(t)).toMap)
    }
  }

  def generate(seed: Long, n: Int, firstId: Long, startMicros: Long, stepMicros: Long): Block = {
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf
    val users = new Array[Long](n)
    val types = new Array[Int](n)
    val cents = new Array[Long](n)
    val k     = new Array[Int](n)
    var i = 0
    while (i < n) {
      val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      users(i) = (if (u >= 0) u else -u - 1).toLong + 1
      val t = rnd.nextInt(100)
      var j = 0
      while (TypeCum(j) <= t) j += 1
      types(i) = j
      cents(i) = 1L + rnd.nextInt(99999)
      k(i) = rnd.nextInt(100)
      i += 1
    }
    new Block(Array.tabulate(n)(firstId + _), users, types, cents,
      Array.tabulate(n)(x => startMicros + x * stepMicros), k)
  }

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(java.time.ZoneOffset.UTC)

  private def isoMicros(us: Long): String =
    tsFormat.format(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))

  def payload(id: Long, tsMicros: Long, user: Long, eventType: String, cents: Long, k: Int): String =
    s"""{"event_id":$id,"ts":"${isoMicros(tsMicros)}","user_id":$user,""" +
      s""""event_type":"$eventType","value":${cents / 100}.${"%02d".format(cents % 100)},""" +
      s""""props":"{\\"k\\": $k}"}"""

  /** One log line (the repository's line vocabulary, which the framed
    * sink turns into Records envelopes): seq, arrival µs, partition key,
    * base64 payload. */
  def line(b: Block, i: Int, arrivalMicros: Long): String = {
    val p = payload(b.ids(i), b.micros(i), b.users(i), Types(b.types(i)), b.cents(i), b.k(i))
    val b64 = java.util.Base64.getEncoder.encodeToString(p.getBytes(UTF_8))
    s"${b.ids(i)}\t$arrivalMicros\t${b.users(i)}\t$b64"
  }

  /** A record 30 days of event time past `lastMicros`, so the final
    * watermark closes every real window. */
  def sentinelLine(id: Long, lastMicros: Long): String = {
    val us = lastMicros + 30L * 24 * 3600 * 1000000L
    val p = payload(id, us, SentinelUser, "sentinel", 0L, 0)
    s"$id\t$us\t$SentinelUser\t${java.util.Base64.getEncoder.encodeToString(p.getBytes(UTF_8))}"
  }

  def shardFile(dir: File, shard: Int): File =
    new File(dir, f"shard-$shard%05d${KinesisLikeLog.FramedExtension}")

  /** Bytes and seconds spent in the framed writer (`openLineSink` +
    * `writeLine` + `close`), summed over writer threads. */
  final case class EncodeStats(bytes: Long, seconds: Double) {
    def mbPerS: Double = if (seconds > 0) bytes / 1e6 / seconds else 0.0
  }

  /** Write `b` as a 16-shard framed log in `dir`. Each record is written
    * `copies` times in a row with one sequence number (at-least-once
    * redelivery); `errors` plants in-stream exception lines (spec,
    * times) on a shard just before the record with the given id; the
    * sentinel goes last on shard 0; `close` appends the shard-closed
    * marker. Shards are written in parallel, one writer per thread. */
  def writeLog(
      dir: File, b: Block, copies: Int, sentinel: Boolean, close: Boolean,
      errors: Map[Long, (String, Int)] = Map.empty): EncodeStats = {
    dir.mkdirs()
    val byShard = Array.fill(Shards)(Array.newBuilder[Int])
    var i = 0
    while (i < b.size) { byShard(b.shardOf(i)) += i; i += 1 }
    val idx = byShard.map(_.result())
    val lastId = if (b.size == 0) -1L else b.ids(b.size - 1)
    val lastUs = if (b.size == 0) BaseMicros else b.micros(b.size - 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WriterThreads)
    try {
      val futures = (0 until Shards).map { s =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            val lines = idx(s).map(j => (b.ids(j), line(b, j, b.micros(j))))
            val t0 = System.nanoTime()
            val f = shardFile(dir, s)
            val sink = KinesisLikeLog.openLineSink(f)
            try {
              lines.foreach { case (id, l) =>
                errors.get(id).foreach { case (spec, times) =>
                  sink.writeLine(s"${KinesisLikeLog.ErrorMarker}\t$spec\t$times")
                }
                var c = 0
                while (c < copies) { sink.writeLine(l); c += 1 }
              }
              if (sentinel && s == 0) sink.writeLine(sentinelLine(lastId + 1, lastUs))
              if (close) sink.writeLine(KinesisLikeLog.ClosedMarker)
            } finally sink.close()
            (System.nanoTime() - t0) / 1e9
          }
        })
      }
      val secs = futures.map(_.get()).sum
      EncodeStats((0 until Shards).map(s => shardFile(dir, s).length).sum, secs)
    } finally pool.shutdown()
  }
}
