package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.sources.kinesislike.{KinesisLikeLog, KinesisLikePartition, KinesisLikeReaderFactory, StartingPosition}

/** Layer calls made from outside the engine, in the traced run only:
  * each times one public entry point of a source-side layer on the
  * workload's own log. */
object OutOfBand {

  /** `openEvents(f).readEvent()` over the shards on one thread, until the
    * shards or `budgetMs` run out. Returns (MB/s, records/s). */
  def decode(shards: Seq[File], budgetMs: Double): (Double, Double) = {
    var bytes = 0L
    var records = 0L
    val t0 = Clock.nowMs
    val it = shards.iterator
    while (it.hasNext && Clock.nowMs - t0 < budgetMs) {
      val f = it.next()
      val in = KinesisLikeLog.openEvents(f)
      try {
        var e = in.readEvent()
        while (e != null) {
          e match {
            case KinesisLikeLog.RecordsEvent(_, rs) => records += rs.size
            case _ =>
          }
          e = in.readEvent()
        }
      } finally in.close()
      bytes += f.length
    }
    val secs = (Clock.nowMs - t0) / 1000.0
    (bytes / 1e6 / secs, records / secs)
  }

  private def timedMs(body: => Unit): Double = {
    val t0 = Clock.nowMs
    body
    Clock.nowMs - t0
  }

  /** `maxSeq` over every shard with the metadata cache dropped, as after
    * an append to every shard. */
  def metaScanMs(dir: File): Double = {
    KinesisLikeLog.invalidateMeta(dir.getAbsolutePath)
    timedMs(KinesisLikeLog.shardFiles(dir.getAbsolutePath).foreach(KinesisLikeLog.maxSeq))
  }

  /** A stream start's parallel metadata warm-up. */
  def prefetchMs(dir: File): Double = {
    KinesisLikeLog.invalidateMeta(dir.getAbsolutePath)
    timedMs(KinesisLikeLog.prefetchMeta(dir.getAbsolutePath))
  }

  /** Resolving a starting position for every shard, cold. */
  def resolveInitialMs(dir: File, pos: String): Double = {
    KinesisLikeLog.invalidateMeta(dir.getAbsolutePath)
    val p = StartingPosition.parse(pos)
    timedMs(KinesisLikeLog.shardFiles(dir.getAbsolutePath).foreach(KinesisLikeLog.resolveInitial(_, p)))
  }

  /** The offsets a query's checkpoint logged, by batch id: shard → last
    * sequence number of the batch. */
  def loggedOffsets(ckpt: File): Seq[(Long, Map[String, Long])] =
    Option(new File(ckpt, "offsets").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit))
      .map { f =>
        val line = java.nio.file.Files.readAllLines(f.toPath).asScala.drop(2).head
        f.getName.toLong -> line.split(';').filter(_.contains('=')).map { kv =>
          val i = kv.lastIndexOf('=')
          kv.substring(0, i) -> kv.substring(i + 1).toLong
        }.toMap
      }.toSeq.sortBy(_._1)

  final case class Replay(batchId: Long, ms: Double, readBytes: Long, frameBytes: Double)

  /** Re-read each sampled batch's partitions through the reader factory
    * the engine uses, on this thread, from the checkpoint's offset log.
    * `bytesPerRecord` converts delivered records back to frame bytes. */
  def replay(ckpt: File, log: File, faultScope: String, bytesPerRecord: Map[String, Double],
      maxBatches: Int): Seq[Replay] = {
    val offs = loggedOffsets(ckpt)
    val pairs = offs.zip(offs.drop(1)).collect { case ((_, s), (id, e)) if s != e => (id, s, e) }
    val step = math.max(1, pairs.size / maxBatches)
    val sampled = pairs.indices.filter(i => i % step == 0 || i == pairs.size - 1).map(pairs)
    sampled.map { case (id, start, end) =>
      val rc0 = Probe.threadReadChars()
      var frameBytes = 0.0
      val t0 = Clock.nowMs
      end.foreach { case (shard, until) =>
        val after = start.getOrElse(shard, -1L)
        if (until > after) {
          val p = KinesisLikePartition(shard,
            new File(log, shard + KinesisLikeLog.FramedExtension).getAbsolutePath,
            after, until, -1L, log.getAbsolutePath, "", 1, faultScope)
          val r = KinesisLikeReaderFactory.createReader(p)
          var n = 0L
          try while (r.next()) n += 1 finally r.close()
          frameBytes += n * bytesPerRecord.getOrElse(shard, 0.0)
        }
      }
      val ms = Clock.nowMs - t0
      Replay(id, ms, Probe.threadReadChars() - rc0, frameBytes)
    }
  }
}
