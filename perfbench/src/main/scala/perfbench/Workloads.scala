package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.ProducerRunner

/** The streaming workloads. Sizes are fixed here so every run of a
  * workload does the same work; only the seed changes the records. */
object Workloads {
  import Streams._
  import Probe.{median, percentile}

  val BacklogRecords = 60000
  val BacklogBatches = 2
  /** Measuring time allotted to one drain: a 12 s window measures three. */
  val DrainSeconds   = 4.0
  val FaultRecords   = 60000
  val FaultErrors    = 12
  val TailHistory    = 100000
  /** The rate (records/s) the untraced run holds for its whole window. */
  val TailReference  = 1000.0
  /** The traced run's ladder of rates, each held for half the window. */
  val TailLadder     = Seq(500.0, 1000.0, 2000.0, 4000.0)
  /** The generator first holds the reference rate this long; records
    * sent then are not measured, so the consumer is past its first
    * batches. */
  val TailWarmMs     = 2000.0
  /** The p99 limit a ladder rung must meet to count as sustained. */
  val TailLimitMs    = 2000.0
  val SetupRepeats   = 3
  val WarmupRecords  = 20000
  private val ErrorSpecs =
    Seq("resource_in_use", "transport_closed", "stream_closed", "http_error:500", "http_error:503")

  // ------------------------------------------------------------------
  // Shared pieces
  // ------------------------------------------------------------------

  /** Generate a log `SetupRepeats` times into fresh directories and keep
    * the last; returns (median seconds, log dir, ledger, encode stats). */
  private def generateLog(ctx: Ctx, name: String)(write: File => (Ledger, Events.EncodeStats))
      : (Double, File, Ledger, Events.EncodeStats) = {
    val runs = (0 until SetupRepeats).map { r =>
      val d = new File(ctx.a.out, s"$name-$r")
      graft.Fs.deleteRecursively(d)
      val t0 = Clock.nowMs
      val (l, e) = write(d)
      ((Clock.nowMs - t0) / 1000.0, d, l, e)
    }
    runs.init.foreach(r => graft.Fs.deleteRecursively(r._2))
    System.err.println(s"[perfbench] $name generated in ${runs.map(r => "%.2f".format(r._1)).mkString(", ")} s")
    val last = runs.last
    (median(runs.map(_._1)), last._2, last._3, last._4)
  }

  /** Weighted nearest-rank percentile over (value, weight) pairs. */
  def weightedPercentile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) 0.0 else {
      val rank = math.ceil(q * total).toLong.max(1L)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= rank }.map(_._1).getOrElse(s.last._1)
    }
  }

  /** Check a rollup store against the generator's ledger; returns
    * (batch id, records) per committed window row. */
  private def checkRollup(ctx: Ctx, sink: TimedSink, ledger: Ledger, label: String): Seq[(Long, Long)] = {
    val rows = sink.read(ctx.spark).filter(col("event_type") =!= "sentinel")
      .select(col("batch").cast("long"), col("event_type"), col("n"), col("cents"),
        col("id_sum"), col("window_us"))
      .collect().toSeq
    val n = rows.map(_.getLong(2)).sum
    val ids = rows.map(_.getLong(4)).sum
    val cents = rows.groupBy(_.getString(1)).map { case (k, rs) => k -> rs.map(_.getLong(3)).sum }
    val windows = rows.map(r => (r.getLong(5), r.getString(1)))
    if (n != ledger.count)
      ctx.o.mismatch(math.abs(n - ledger.count), s"$label: sink holds $n records, generator wrote ${ledger.count}")
    if (ids != ledger.idSum) ctx.o.mismatch(1, s"$label: event id sum ${ids} != ${ledger.idSum}")
    if (cents != ledger.centsByType) ctx.o.mismatch(1, s"$label: per-type cents $cents != ${ledger.centsByType}")
    if (windows.distinct.size != windows.size)
      ctx.o.mismatch(windows.size - windows.distinct.size, s"$label: window rows committed twice")
    rows.map(r => (r.getLong(0), r.getLong(2)))
  }

  final case class Drain(sup: Supervised, wallMs: Double, ckpt: File, faultScope: String,
      latencies: Seq[(Double, Long)])

  /** One AvailableNow drain of `log` into a fresh checkpoint and store,
    * under the producer, checked against `ledger`. */
  private def drain(ctx: Ctx, name: String, log: File, cap: Long, ledger: Ledger,
      planted: Seq[String]): Drain = {
    val base = ctx.dir(name)
    val ckpt = new File(base, "ckpt")
    val sink = new TimedSink(new File(base, "store"), ctx.probe)
    val scope = s"${name}_${ctx.probe.runId}"
    val sup = new Supervised(ctx.spark, ctx.probe, name, log, ckpt, sink, Trigger.AvailableNow(),
      maxRetries = planted.size + 2)(() =>
      rollup(source(ctx.spark, log, "trim_horizon", Some(cap), Some(scope))))
    val startMs = Clock.nowMs
    val (ok, wallMs) = sup.run()
    ctx.o.attempted += ledger.count
    if (!ok) ctx.o.fail(1, s"$name: producer gave up after ${sup.errorLabels}")
    if (sup.runner.connState != ProducerRunner.ShardsClosed)
      ctx.o.fail(1, s"$name: ended in ${sup.runner.connState}, not ShardsClosed")
    val want = planted.map(s => graft.sources.kinesislike.KinesisLikeErrors.classify(
      graft.sources.kinesislike.KinesisLikeErrors.make(s))).sorted
    val got = sup.errorLabels.sorted
    if (got != want) ctx.o.fail(math.abs(got.size - want.size).max(1),
      s"$name: lifecycle failures $got, planted $want")
    val rows = checkRollup(ctx, sink, ledger, name)
    val lat = rows.map { case (b, n) => (sink.commitMs.getOrElse(b, Double.NaN) - startMs, n) }
    ctx.sampleHeap()
    Drain(sup, wallMs, ckpt, scope, lat)
  }

  /** Run `body` once per `unitSeconds` of the measuring window (at least
    * once). The count depends only on the window, so every run of a
    * workload does the same work and the medians are over the same
    * number of repetitions. */
  def measured[A](ctx: Ctx, unitSeconds: Double)(body: Int => A): (Seq[A], Double, Double) = {
    val reps = math.max(1, (ctx.a.seconds / unitSeconds).toInt)
    ctx.probe.measuring = true
    val t0 = Clock.nowMs
    val out = ctx.probe.span(Layers.Workload, ctx.a.workload)((0 until reps).map(body))
    val t1 = Clock.nowMs
    ctx.probe.drain(ctx.spark)
    ctx.probe.measuring = false
    (out, t0, t1)
  }

  private def bytesPerRecord(log: File, perShardLines: Map[String, Long]): Map[String, Double] =
    perShardLines.map { case (s, n) =>
      s -> (if (n > 0) new File(log, s + graft.sources.kinesislike.KinesisLikeLog.FramedExtension).length.toDouble / n else 0.0)
    }

  private def linesPerShard(b: Events.Block, copies: Int): Map[String, Long] =
    (0 until b.size).groupBy(b.shardOf).map { case (s, is) => f"shard-$s%05d" -> is.size.toLong * copies }

  // ------------------------------------------------------------------
  // Layer metrics read from the traced run
  // ------------------------------------------------------------------

  def engineMetrics(ctx: Ctx, units: Double): Unit = {
    val o = ctx.o
    val ps = ctx.probe.progress
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val data = ps.filter(_.numInputRows > 0)
    o.put("engine.batches", ps.size / units, "count")
    o.put("engine.rows_per_batch", if (data.isEmpty) 0.0 else data.map(_.numInputRows.toDouble).sum / data.size, "count")
    o.put("engine.planning_ms", median(ps.map(d(_, "queryPlanning"))), "ms")
    o.put("engine.commit_ms", median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "ms")
    o.put("engine.add_batch_ms", median(ps.map(d(_, "addBatch"))), "ms")
    o.put("engine.trigger_ms", median(ps.map(d(_, "triggerExecution"))), "ms")
    val lo = ps.map(d(_, "latestOffset"))
    val tenth = math.max(1, lo.size / 10)
    o.put("source.latest_offset_ms", median(lo), "ms")
    o.put("source.latest_offset_ms_first_decile", median(lo.take(tenth)), "ms")
    o.put("source.latest_offset_ms_last_decile", median(lo.takeRight(tenth)), "ms")
    val st = ps.map(_.stateOperators.toSeq)
    o.put("state.rows", if (st.isEmpty) 0.0 else st.map(_.map(_.numRowsTotal).sum.toDouble).max, "count")
    o.put("state.mem_mb", if (st.isEmpty) 0.0 else st.map(_.map(_.memoryUsedBytes).sum / 1048576.0).max, "MB")
    o.put("state.commit_ms", median(st.map(_.map(_.commitTimeMs).sum.toDouble)), "ms")
  }

  /** Executor and driver-gap metrics per unit of work, from the stages
    * that ran in [t0, t1]. */
  def execMetrics(ctx: Ctx, t0: Double, t1: Double, units: Double): Unit = {
    val st = ctx.probe.stages
    val o = ctx.o
    val busy = Probe.unionMs(st.map(s => (math.max(s.startMs, t0), math.min(s.endMs, t1))))
    o.put("exec.cpu_s", st.map(_.cpuNs).sum / 1e9 / units, "s")
    o.put("exec.gc_s", st.map(_.gcMs).sum / 1000.0 / units, "s")
    o.put("exec.shuffle_mb", st.map(_.shuffleWrite).sum / 1e6 / units, "MB")
    o.put("exec.spill_mb", st.map(_.spill).sum / 1e6 / units, "MB")
    o.put("exec.tasks", st.map(_.tasks).sum / units, "count")
    val skews = st.filter(_.durations.size >= 2).map { s =>
      val m = median(s.durations.map(_.toDouble)); if (m > 0) s.durations.max / m else 1.0
    }
    o.put("exec.task_skew", median(skews), "ratio")
    o.put("driver.gap_s", ((t1 - t0) - busy) / 1000.0 / units, "s")
  }

  /** Producer and registry metrics of one supervised run. */
  private def producerMetrics(ctx: Ctx, sup: Supervised): Unit = {
    val o = ctx.o
    o.put("producer.restarts", sup.failMs.size, "count")
    val labels = sup.errorLabels
    Seq("resource_in_use", "transport_closed", "http_error", "closed", "unknown").foreach { l =>
      o.put(s"producer.errors.$l", labels.count(_ == l), "count")
    }
    o.put("producer.start_ms", median(sup.startCost.toSeq), "ms")
    o.put("registry.unready_ms", sup.registry.unreadyMs, "ms")
  }

  private def sinkMetrics(ctx: Ctx, sups: Seq[Supervised], units: Double): Unit = {
    val o = ctx.o
    o.put("sink.apply_ms", median(sups.flatMap(_.sink.applyMs)), "ms")
    o.put("sink.replays_skipped", sups.map(_.sink.replaysSkipped).sum / units, "count")
    o.put("sink.mb_written", sups.map(_.sink.mbWritten).sum / units, "MB")
  }

  /** Out-of-band calls into the framing, log and source layers on the
    * workload's own log, then self time per layer from the spans. */
  private def layerMetrics(ctx: Ctx, log: File, ckpt: File, scope: String,
      bpr: Map[String, Double], t0: Double, t1: Double, units: Double, startPos: String): Unit = {
    val o = ctx.o
    val p = ctx.probe
    engineMetrics(ctx, units)
    execMetrics(ctx, t0, t1, units)
    val shards = graft.sources.kinesislike.KinesisLikeLog.shardFiles(log.getAbsolutePath)
    val (mbS, recS) = p.span(Layers.OutOfBand, "framing.decode")(OutOfBand.decode(shards, 3000.0))
    o.put("framing.decode_mb_s", mbS, "MB/s")
    o.put("framing.decode_records_s", recS, "1/s")
    o.put("log.meta_scan_ms", p.span(Layers.OutOfBand, "log.meta_scan")(OutOfBand.metaScanMs(log)), "ms")
    o.put("log.prefetch_ms", p.span(Layers.OutOfBand, "log.prefetch")(OutOfBand.prefetchMs(log)), "ms")
    o.put("log.resolve_initial_ms",
      p.span(Layers.OutOfBand, "log.resolve_initial")(OutOfBand.resolveInitialMs(log, startPos)), "ms")
    val rs = p.span(Layers.OutOfBand, "source.replay")(OutOfBand.replay(ckpt, log, scope, bpr, 20))
    val ms = rs.map(_.ms)
    val decile = math.max(1, rs.size / 10)
    o.put("source.reader_ms", median(ms), "ms")
    o.put("source.reader_ms_first_decile", median(ms.take(decile)), "ms")
    o.put("source.reader_ms_last_decile", median(ms.takeRight(decile)), "ms")
    def amplification(xs: Seq[OutOfBand.Replay]): Double = {
      val fb = xs.map(_.frameBytes).sum
      if (fb > 0) xs.map(_.readBytes).sum / fb else 0.0
    }
    o.put("source.read_amplification", amplification(rs), "ratio")
    o.put("source.read_amplification_first_decile", amplification(rs.take(decile)), "ratio")
    o.put("source.read_amplification_last_decile", amplification(rs.takeRight(decile)), "ratio")
    p.selfSeconds.foreach { case (layer, s) => o.put(s"self.$layer", s / units, "s") }
    o.put("trace.overhead_pct", p.overheadMs / (t1 - t0) * 100.0, "%")
  }

  // ------------------------------------------------------------------
  // backlog_drain
  // ------------------------------------------------------------------

  def backlogDrain(ctx: Ctx): Unit = {
    val a = ctx.a
    val o = ctx.o
    val n = BacklogRecords
    val cap = (n + BacklogBatches - 1L) / BacklogBatches
    var block: Events.Block = null
    val (genS, log, ledger, enc) = generateLog(ctx, "log") { d =>
      block = Events.generate(a.seed, n, 0L, Events.BaseMicros, 1000L)
      (block.ledger, Events.writeLog(d, block, copies = 2, sentinel = true, close = true))
    }
    // Warm-up: two full drains of the same log; the JIT is still
    // compiling the drain's paths during the first.
    val w0 = Clock.nowMs
    drain(ctx, "warmup-0", log, cap, ledger, Nil)
    drain(ctx, "warmup-1", log, cap, ledger, Nil)
    o.put("setup_s", ctx.sessionS + genS + (Clock.nowMs - w0) / 1000.0, "s")
    val (drains, t0, t1) = measured(ctx, DrainSeconds) { i => drain(ctx, s"drain-$i", log, cap, ledger, Nil) }
    System.err.println(s"[perfbench] drains ${drains.map(_.wallMs.round).mkString(", ")} ms in ${(t1 - t0).round} ms")
    reportDrains(ctx, drains, n)
    if (a.trace) {
      o.put("framing.encode_mb_s", enc.mbPerS, "MB/s")
      sinkMetrics(ctx, drains.map(_.sup), drains.size)
      layerMetrics(ctx, log, drains.last.ckpt, drains.last.faultScope,
        bytesPerRecord(log, linesPerShard(block, 2)), t0, t1, drains.size, "trim_horizon")
      // The resubscribe path: a drain through planted in-stream errors.
      val f = faultedDrain(ctx)
      producerMetrics(ctx, f.sup)
      o.put("fault.resume_s", f.wallMs / 1000.0, "s")
      o.put("fault.resume_gap_p50_ms", median(f.sup.resumeGapsMs), "ms")
      // Single-core baseline: the same drain at local[1].
      ctx.spark.stop()
      ctx.spark = Main.session(1, a.out)
      ctx.probe.attach(ctx.spark)
      val one = drain(ctx, "drain-local1", log, cap, ledger, Nil)
      o.put("scaling.drain_speedup", one.wallMs / median(drains.map(_.wallMs)), "ratio")
    }
  }

  /** One clean drain of two batches, large enough that the JIT has
    * compiled the decode and state paths before measuring. */
  private def warmup(ctx: Ctx): Double = {
    val t0 = Clock.nowMs
    val d = new File(ctx.a.out, "warmup-log")
    val b = Events.generate(ctx.a.seed + 1, WarmupRecords, 0L, Events.BaseMicros, 1000L)
    Events.writeLog(d, b, copies = 2, sentinel = true, close = true)
    drain(ctx, "warmup", d, WarmupRecords / 2L, b.ledger, Nil)
    System.err.println(s"[perfbench] session ${ctx.sessionS} s, warmup ${(Clock.nowMs - t0) / 1000.0} s")
    (Clock.nowMs - t0) / 1000.0
  }

  private def reportDrains(ctx: Ctx, drains: Seq[Drain], records: Long): Unit = {
    val o = ctx.o
    o.put("latency_p50_ms", median(drains.map(d => weightedPercentile(d.latencies, 0.5))), "ms")
    o.put("latency_p90_ms", median(drains.map(d => weightedPercentile(d.latencies, 0.9))), "ms")
    o.put("throughput_rps", median(drains.map(d => records / (d.wallMs / 1000.0))), "1/s")
    o.put("peak_heap_mb", ctx.peakHeapMb, "MB")
  }

  // ------------------------------------------------------------------
  // The faulted drain (backlog_drain's traced run)
  // ------------------------------------------------------------------

  /** Drain a log that carries `FaultErrors` planted in-stream exceptions,
    * one per batch after the first, cycling through the error classes.
    * Every error ends a lifecycle; the producer restarts it from the
    * checkpoint with no backoff. */
  private def faultedDrain(ctx: Ctx): Drain = {
    val n = FaultRecords
    val cap = (n + FaultErrors) / (FaultErrors + 1L)
    val block = Events.generate(ctx.a.seed + 2, n, 0L, Events.BaseMicros, 1000L)
    // Budgets are cumulative per shard, so the j-th error on a shard
    // carries times = j.
    val perShard = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val errs = (1 to FaultErrors).map { k =>
      val i = (k * cap + cap / 2).toInt
      val s = block.shardOf(i)
      perShard(s) += 1
      block.ids(i) -> (ErrorSpecs((k - 1) % ErrorSpecs.size), perShard(s))
    }.toMap
    val log = new File(ctx.a.out, "fault-log")
    Events.writeLog(log, block, copies = 1, sentinel = true, close = true, errors = errs)
    drain(ctx, "resume", log, cap, block.ledger, errs.values.map(_._1).toSeq)
  }

  // ------------------------------------------------------------------
  // live_tail
  // ------------------------------------------------------------------

  def liveTail(ctx: Ctx): Unit = {
    val a = ctx.a
    val o = ctx.o
    val h = TailHistory
    var block: Events.Block = null
    val (genS, log, _, enc) = generateLog(ctx, "log") { d =>
      block = Events.generate(a.seed, h, 0L, Events.BaseMicros, 1000L)
      (block.ledger, Events.writeLog(d, block, copies = 1, sentinel = false, close = false))
    }
    val warmS = warmup(ctx)
    o.put("setup_s", ctx.sessionS + genS + warmS, "s")

    // Untraced: the reference rate for the whole window. Traced: the
    // ladder, for the sustained rate.
    val ladder =
      if (a.trace) TailLadder.map(r => (r, a.seconds * 500.0))
      else Seq((TailReference, a.seconds * 1000.0))
    val rungSpec = ((TailReference, TailWarmMs) +: ladder).map { case (r, ms) => s"$r:$ms" }.mkString(",")
    val base = ctx.dir("tail")
    val sink = new TimedSink(new File(base, "store"), ctx.probe)
    val ckpt = new File(base, "ckpt")
    val sup = new Supervised(ctx.spark, ctx.probe, "tail", log, ckpt, sink,
      Trigger.ProcessingTime(0L), maxRetries = 1000)(() => rows(source(ctx.spark, log, "latest", None)))
    val statsFile = new File(base, "gen.json")
    val metaStart = if (a.trace) OutOfBand.metaScanMs(log) else 0.0
    ctx.probe.measuring = true
    val t0 = Clock.nowMs
    var result: (Boolean, Double) = (false, 0.0)
    val consumer = new Thread(() => result = sup.run(), "tail-consumer")
    consumer.start()
    // The consumer resolves `latest` on its first trigger; the generator
    // starts only after that, so no scheduled record predates the cursor.
    waitFor(30000) {
      val q = sup.current.get
      q != null && (q.lastProgress != null || q.status.message == "Waiting for data to arrive")
    }
    val genStart = Clock.nowMs + 1500.0
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    // The generator's JVM stays light so it takes little CPU from the
    // consumer: one GC thread, C1 only, one compiler thread.
    val gen = new ProcessBuilder(javaBin, "-Xmx256m", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
      "-XX:CICompilerCount=1", "-XX:-UsePerfData", "-cp", System.getProperty("java.class.path"),
      "perfbench.TailGen", log.getAbsolutePath, (a.seed + 7919L).toString, h.toString,
      rungSpec, f"$genStart%.3f", statsFile.getAbsolutePath)
      .inheritIO().start()
    val genOk = gen.waitFor(120, java.util.concurrent.TimeUnit.SECONDS) && gen.exitValue() == 0
    if (!genOk) { gen.destroyForcibly(); gen.waitFor(); ctx.o.fail(1, "tail generator did not finish") }
    val stats = new com.fasterxml.jackson.databind.ObjectMapper().readTree(statsFile)
    val want = {
      val mx = stats.get("max_seq")
      val it = mx.fieldNames()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val k = it.next(); b += k -> mx.get(k).asLong }
      b.result()
    }
    // Drained once the last committed batch's end offset reaches the
    // generator's final sequence number on every shard.
    val drained = waitFor(60000) {
      val q = sup.current.get
      val p = if (q == null) null else q.lastProgress
      p != null && p.sources.nonEmpty && {
        val end = graft.sources.kinesislike.KinesisLikeOffset.fromJson(
          p.sources.head.endOffset.stripPrefix("\"").stripSuffix("\"")).positions
        want.forall { case (s, v) => end.getOrElse(s, -1L) >= v }
      }
    }
    ctx.sampleHeap()
    Option(sup.current.get).foreach(_.stop())
    consumer.join(60000)
    val t1 = Clock.nowMs
    ctx.probe.add(Span(Layers.Workload, a.workload, t0, t1))
    ctx.probe.drain(ctx.spark)
    ctx.probe.measuring = false
    if (!drained) ctx.o.fail(1, "tail consumer did not catch up within 60 s of the last send")
    if (!result._1) ctx.o.fail(1, s"tail consumer failed: ${sup.errorLabels}")

    // Check the store against the generator's ledger.
    val sent = stats.get("count").asLong
    o.attempted += sent
    // Every lifecycle failure here is a read racing an append (nothing is
    // planted): counted, and retried by the producer.
    if (sup.failMs.nonEmpty) ctx.o.fail(sup.failMs.size, s"tail lifecycle failures: ${sup.errorLabels}")
    val rowsDf = sink.read(ctx.spark)
    val agg = rowsDf.agg(count(lit(1)), countDistinct(col("event_id")), sum(col("event_id"))).head()
    val (n, distinct, idSum) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    if (n != sent || distinct != sent)
      ctx.o.mismatch(math.abs(n - sent).max(math.abs(distinct - sent)).max(1),
        s"tail: sink holds $n rows / $distinct ids, generator wrote $sent")
    if (idSum != stats.get("id_sum").asLong) ctx.o.mismatch(1, "tail: event id sum mismatch")
    val cents = rowsDf.groupBy("event_type").agg(sum("cents")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantCents = {
      val c = stats.get("cents"); val it = c.fieldNames(); val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val k = it.next(); b += k -> c.get(k).asLong }; b.result()
    }
    if (cents != wantCents) ctx.o.mismatch(1, s"tail: per-type cents $cents != $wantCents")

    // Latency: scheduled send (the arrival stamp) to the batch's commit.
    val lat = rowsDf.select(col("batch").cast("long"), col("arrival_us")).collect()
      .map(r => (r.getLong(1), sink.commitMs.getOrElse(r.getLong(0), Double.NaN) - r.getLong(1) / 1000.0))
    val rungs = (1 until stats.get("rungs").size).map { i =>
      val r = stats.get("rungs").get(i)
      (r.get("rate").asDouble, r.get("from_us").asLong, r.get("to_us").asLong)
    }
    def inRung(i: Int) = { val (_, f, t) = rungs(i); lat.filter(x => x._1 >= f && x._1 < t).map(_._2).toSeq }
    if (!a.trace) {
      val ref = inRung(0)
      o.put("latency_p50_ms", median(ref), "ms")
      o.put("latency_p90_ms", percentile(ref, 0.9), "ms")
      o.put("throughput_rps", ref.size / ((sink.lastCommitMs - rungs.head._2 / 1000.0) / 1000.0), "1/s")
      o.put("peak_heap_mb", ctx.peakHeapMb, "MB")
    } else {
      // A rung is sustained when its p99 meets the limit and latency does
      // not grow from its first third to its last.
      val sustained = rungs.indices.filter { i =>
        val xs = inRung(i)
        val third = math.max(1, xs.size / 3)
        percentile(xs, 0.99) < TailLimitMs && median(xs.takeRight(third)) < 1.5 * median(xs.take(third)) + 200.0
      }
      o.put("tail.sustained_rps", sustained.lastOption.map(rungs(_)._1).getOrElse(0.0), "1/s")
      o.put("gen.late_ms_p99", stats.get("late_ms_p99").asDouble, "ms")
      o.put("framing.encode_mb_s", stats.get("encode_mb_s").asDouble, "MB/s")
      o.put("log.meta_scan_ms_start", metaStart, "ms")
      producerMetrics(ctx, sup)
      sinkMetrics(ctx, Seq(sup), 1.0)
      val hist = linesPerShard(block, 1)
      val tail = linesPerShard(Events.generate(a.seed + 7919L, sent.toInt, h, 0L, 0L), 1)
      val lines = (hist.keySet ++ tail.keySet).map(s => s -> (hist.getOrElse(s, 0L) + tail.getOrElse(s, 0L))).toMap
      layerMetrics(ctx, log, ckpt, "", bytesPerRecord(log, lines), t0, t1, 1.0, "latest")
    }
  }

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < end) { Thread.sleep(20); ok = cond }
    ok
  }
}
