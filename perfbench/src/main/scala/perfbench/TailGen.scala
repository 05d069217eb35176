package perfbench

import java.io.File

import scala.collection.mutable

import graft.sources.kinesislike.KinesisLikeLog

/** The live_tail load generator: a separate process with one thread that
  * appends framed records to a live log on a fixed schedule (a ladder of
  * rates), whether or not the consumer keeps up. Each record's arrival
  * timestamp and event time are its scheduled send time. `LineSink` has
  * no flush, so every tick reopens each shard's sink in append mode and
  * closes it again.
  *
  * Usage: TailGen <logDir> <seed> <firstId> <rate:ms,rate:ms,...> <startEpochMs> <statsFile>
  * (each `rate:ms` rung holds `rate` records/s for `ms` milliseconds)
  */
object TailGen {
  val TickMs = 20L

  def main(args: Array[String]): Unit = {
    val Array(logDir, seedS, firstIdS, rungsS, startS, statsFile) = args
    val rungs = rungsS.split(',').map { r =>
      val Array(rate, ms) = r.split(':'); (rate.toDouble, ms.toDouble)
    }
    val rungStart = rungs.scanLeft(0.0)(_ + _._2)
    val start  = startS.toDouble
    // Scheduled send time of every record, ms after `start`.
    val sched = rungs.zipWithIndex.flatMap { case ((r, ms), i) =>
      val n = (r * ms / 1000.0).round.toInt
      Array.tabulate(n)(k => rungStart(i) + k * 1000.0 / r)
    }
    val b0 = Events.generate(seedS.toLong, sched.length, firstIdS.toLong, 0L, 0L)
    val micros = sched.map(t => ((start + t) * 1000.0).toLong)
    val b = new Events.Block(b0.ids, b0.users, b0.types, b0.cents, micros, b0.k)
    val dir = new File(logDir)
    val late = new Array[Double](b.size)
    var encNs = 0L
    var encBytes = 0L
    var next = 0
    while (next < b.size) {
      val now = System.currentTimeMillis().toDouble
      var end = next
      while (end < b.size && start + sched(end) <= now) end += 1
      if (end > next) {
        val byShard = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
        (next until end).foreach(i => byShard.getOrElseUpdate(b.shardOf(i), mutable.ArrayBuffer.empty) += i)
        byShard.toSeq.sortBy(_._1).foreach { case (s, is) =>
          val lines = is.map(i => Events.line(b, i, micros(i)))
          val f = Events.shardFile(dir, s)
          val before = f.length
          val t0 = System.nanoTime()
          val sink = KinesisLikeLog.openLineSink(f, append = true)
          try lines.foreach(sink.writeLine) finally sink.close()
          encNs += System.nanoTime() - t0
          encBytes += f.length - before
        }
        val written = System.currentTimeMillis().toDouble
        (next until end).foreach(i => late(i) = written - (start + sched(i)))
        next = end
      } else {
        val wait = math.min(TickMs.toDouble, start + sched(next) - now)
        if (wait > 0) Thread.sleep(wait.toLong.max(1L))
      }
    }
    val l = b.ledger
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    o.put("count", l.count); o.put("id_sum", l.idSum)
    val c = o.putObject("cents"); l.centsByType.foreach { case (k, v) => c.put(k, v) }
    o.put("late_ms_p99", Probe.percentile(late.toSeq, 0.99))
    o.put("encode_mb_s", if (encNs > 0) encBytes / 1e6 / (encNs / 1e9) else 0.0)
    val mx = o.putObject("max_seq")
    (0 until b.size).groupBy(b.shardOf).foreach { case (s, is) =>
      mx.put(f"shard-$s%05d", is.map(b.ids).max)
    }
    val out = o.putArray("rungs")
    rungs.indices.foreach { i =>
      val r = out.addObject()
      r.put("rate", rungs(i)._1); r.put("from_us", ((start + rungStart(i)) * 1000).toLong)
      r.put("to_us", ((start + rungStart(i + 1)) * 1000).toLong)
    }
    m.writeValue(new File(statsFile), o)
  }
}
