package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog, KinesisLikeOffset, StartingPosition}

/** Source behavior matrix, mirroring the reference's SubscribeToShard
  * integration tests (subscribe_to_shard_test.exs):
  *  - multi-event streaming + order preservation (128-143),
  *  - resubscribe carrying AFTER_SEQUENCE_NUMBER of the last delivered
  *    event (145-166),
  *  - resubscribe with the ORIGINAL position when zero events were
  *    delivered (175-189),
  *  - shard-closed termination (205-218),
  *  - a 1 MB record spanning many transport chunks reassembles intact
  *    (220-245),
  *  - in-stream error after partial delivery (191-203) via fault
  *    injection,
  * plus the five starting positions against a real log and
  * microbatch-split invariance (SURVEY.md §5.2).
  */
class KinesisLikeSourceSpec extends SparkSpec {

  private var ctr = 0
  private def tmpDir(prefix: String): Path = {
    ctr += 1
    Files.createTempDirectory(s"$prefix$ctr")
  }

  /** Write a shard log by hand: (seq, micros, key, payloadString). */
  private def writeShard(
      dir: Path,
      shard: Int,
      records: Seq[(Long, Long, String, String)],
      closed: Boolean = true): Unit = {
    val lines = records.map { case (seq, us, k, payload) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes(UTF_8))
      s"$seq\t$us\t$k\t$b64"
    } ++ (if (closed) Seq(KinesisLikeLog.ClosedMarker) else Nil)
    Files.write(
      dir.resolve(f"shard-$shard%05d.log"),
      (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  private def appendShard(
      dir: Path,
      shard: Int,
      records: Seq[(Long, Long, String, String)]): Unit = {
    val lines = records.map { case (seq, us, k, payload) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes(UTF_8))
      s"$seq\t$us\t$k\t$b64"
    }
    Files.write(
      dir.resolve(f"shard-$shard%05d.log"),
      (lines.mkString("\n") + "\n").getBytes(UTF_8),
      StandardOpenOption.APPEND)
  }

  private def readBatch(dir: Path): DataFrame =
    spark.read.format("kinesislike").option("path", dir.toString).load()

  /** Run a streaming read to completion into a fresh memory sink; returns
    * collected (shardId, seq, payload) triples. */
  private def runStream(
      dir: Path,
      startingPosition: String,
      checkpoint: Path,
      sinkName: String,
      extraOptions: Map[String, String] = Map.empty): Seq[(String, Long, String)] = {
    var reader = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", startingPosition)
    extraOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load()
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
      .select(col("shardId"), col("sequenceNumber").cast("long"),
        col("data").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
  }

  // ---------------------------------------------------------------- batch

  test("batch read returns every record with the envelope schema") {
    val dir = tmpDir("kl_batch")
    writeShard(dir, 0, Seq((0L, 1000L, "u1", "a"), (1L, 2000L, "u2", "b")))
    writeShard(dir, 1, Seq((2L, 1500L, "u3", "c")))
    val df = readBatch(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("shardId", "sequenceNumber", "approximateArrivalTimestamp",
        "partitionKey", "data"))
    val rows = df
      .select(col("shardId"), col("sequenceNumber"),
        unix_micros(col("approximateArrivalTimestamp")).as("us"),
        col("partitionKey"), col("data").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toSet
    assert(rows == Set(
      ("shard-00000", "0", 1000L, "u1", "a"),
      ("shard-00000", "1", 2000L, "u2", "b"),
      ("shard-00001", "2", 1500L, "u3", "c")))
  }

  test("per-shard record order is preserved (subscribe_to_shard_test.exs:128-143)") {
    val dir = tmpDir("kl_order")
    writeShard(dir, 0, (0L until 50L).map(i => (i, i * 10, "k", s"p$i")))
    // One partition per shard, no shuffle → collect() preserves in-partition order.
    val seqs = readBatch(dir)
      .select(col("sequenceNumber").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(seqs == (0L until 50L))
  }

  test("a 1 MB record round-trips intact (subscribe_to_shard_test.exs:220-245)") {
    val dir = tmpDir("kl_big")
    val big = "x" * (1024 * 1024) // 1 MB pre-base64, the Kinesis record cap
    writeShard(dir, 0, Seq((0L, 1L, "k", big)))
    val got = readBatch(dir).select(col("data").cast("string")).collect()
    assert(got.length == 1 && got(0).getString(0) == big)
  }

  // ---------------------------------------- starting-position resolution

  test("five starting positions resolve to the correct record subsets") {
    val dir = tmpDir("kl_pos")
    // arrival timestamps: seq i arrives at i seconds.
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")))
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    import StartingPosition._
    assert(KinesisLikeLog.resolveInitial(f, TrimHorizon) == -1L)
    assert(KinesisLikeLog.resolveInitial(f, Latest) == 9L)
    assert(KinesisLikeLog.resolveInitial(f, AtSequenceNumber(4)) == 3L)
    assert(KinesisLikeLog.resolveInitial(f, AfterSequenceNumber(4)) == 4L)
    assert(KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(5))) == 4L)
    // at_timestamp past the end behaves like latest.
    assert(KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(100))) == 9L)
  }

  test("streaming honors at_sequence_number / after_sequence_number / at_timestamp") {
    val dir = tmpDir("kl_subset")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")))
    def seqsFrom(pos: String, tag: String): Seq[Long] =
      runStream(dir, pos, tmpDir(s"ck_$tag"), s"sink_subset_$tag")
        .map(_._2).sorted
    assert(seqsFrom("trim_horizon", "th") == (0L until 10L))
    assert(seqsFrom("at_sequence_number:7", "at") == Seq(7L, 8L, 9L))
    assert(seqsFrom("after_sequence_number:7", "after") == Seq(8L, 9L))
    assert(seqsFrom("at_timestamp:8", "ts") == Seq(8L, 9L))
    assert(seqsFrom("latest", "latest") == Seq.empty)
  }

  // ------------------------------------------------- resume semantics

  /** Restartable run: the memory sink cannot recover from a checkpoint,
    * so resume tests write to a (fault-tolerant) parquet file sink and
    * read the committed output back. */
  private def runStreamToFiles(
      dir: Path,
      startingPosition: String,
      checkpoint: Path,
      out: Path): Seq[Long] = {
    val q = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", startingPosition)
      .load()
      .writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read
      .schema(graft.sources.kinesislike.KinesisLikeTable.schema)
      .parquet(out.toString)
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("restart resumes AFTER the last delivered sequence number " +
    "(subscribe_to_shard_test.exs:145-166)") {
    val dir  = tmpDir("kl_resume")
    val ckpt = tmpDir("kl_resume_ck")
    val out  = tmpDir("kl_resume_out")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")), closed = false)
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 5L))
    // The "subscription" ended; more records arrive on the shard.
    appendShard(dir, 0, (5L until 8L).map(i => (i, i, "k", s"p$i")))
    // The checkpointed cursor carries forward: combined output is exactly
    // 0..7 with the new records delivered exactly once, never re-read.
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 8L))
  }

  test("zero delivered events ⇒ the ORIGINAL starting position still governs " +
    "(subscribe_to_shard_test.exs:175-189)") {
    val dir  = tmpDir("kl_orig")
    val ckpt = tmpDir("kl_orig_ck")
    val out  = tmpDir("kl_orig_out")
    // Shard exists but has nothing past the requested position yet.
    writeShard(dir, 0, (0L until 3L).map(i => (i, i, "k", s"p$i")), closed = false)
    assert(runStreamToFiles(dir, "after_sequence_number:5", ckpt, out).isEmpty)
    appendShard(dir, 0, (4L until 8L).map(i => (i, i, "k", s"p$i")))
    // Not everything new — only what the original position admits.
    assert(runStreamToFiles(dir, "after_sequence_number:5", ckpt, out) ==
      Seq(6L, 7L))
  }

  test("latest delivers NOTHING that predates the subscription — the gap " +
    "caveat (producer.ex:22, 209-210) — and everything appended after it") {
    val dir  = tmpDir("kl_latest_gap")
    val ckpt = tmpDir("kl_latest_gap_ck")
    val out  = tmpDir("kl_latest_gap_out")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")), closed = false)
    // Lifecycle 1 subscribes `latest`: the pre-existing records 0..4 are
    // the documented gap — resolved to the shard's high-water mark,
    // delivered never, and the resolved cursor commits to the checkpoint.
    assert(runStreamToFiles(dir, "latest", ckpt, out).isEmpty)
    // The stream keeps producing while no consumer is up.
    appendShard(dir, 0, (5L until 8L).map(i => (i, i, "k", s"p$i")))
    // Lifecycle 2 resumes from the checkpointed cursor: exactly the
    // post-attach records, the gap still ungapped.
    assert(runStreamToFiles(dir, "latest", ckpt, out) == Seq(5L, 6L, 7L))
  }

  test("closed shard: all records delivered, then the shard just ends " +
    "(subscribe_to_shard_test.exs:205-218)") {
    val dir = tmpDir("kl_closed")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a"), (1L, 2L, "k", "b")), closed = true)
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    assert(KinesisLikeLog.isClosed(f))
    val got = runStream(dir, "trim_horizon", tmpDir("kl_closed_ck"), "sink_closed")
    assert(got.map(_._2).sorted == Seq(0L, 1L))
  }

  // --------------------------------------------- rate limit + invariance

  test("microbatch-split invariance: any maxRecordsPerBatch yields the same result") {
    val dir = tmpDir("kl_inv")
    writeShard(dir, 0, (0L until 17L).map(i => (i, i, "a", s"p$i")))
    writeShard(dir, 1, (17L until 29L).map(i => (i, i, "b", s"p$i")))
    val expected = (0L until 29L).toSeq
    for (batchSize <- Seq("1", "3", "7", "1000")) {
      val got = runStream(
        dir, "trim_horizon", tmpDir(s"kl_inv_ck$batchSize"),
        s"sink_inv_$batchSize",
        Map("maxRecordsPerBatch" -> batchSize))
      assert(got.map(_._2).sorted == expected,
        s"mismatch at maxRecordsPerBatch=$batchSize")
    }
  }

  test("per-event cursor with a MID-event admission cap: a multi-record " +
    "envelope event straddling a batch end defers its remainder to the " +
    "next microbatch exactly-once (the reader's seam filter), while an " +
    "uncapped resume from a committed continuation skips whole events") {
    val dir = tmpDir("kl_midevent")
    val f   = dir.resolve("shard-00000.elog").toFile
    // 10 records grouped 4 per SubscribeToShardEvent: events end at
    // seq 4, 8, 10 (the closed marker flushes the partial last group).
    val sink = KinesisLikeLog.openLineSink(f, recordsPerEvent = 4)
    try {
      (1L to 10L).foreach { i =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(s"p$i".getBytes(UTF_8))
        sink.writeLine(s"$i\t${i * 1000000L}\tk\t$b64")
      }
      sink.writeLine(KinesisLikeLog.ClosedMarker)
    } finally sink.close()
    // A cap of 3 ends batches at seq 3, 6, 9, 10 — three of the four
    // ends land MID-event. Every record must still arrive exactly once.
    val got = runStream(dir, "trim_horizon", tmpDir("kl_midevent_ck"),
      "kl_midevent_sink", Map("maxRecordsPerBatch" -> "3"))
    assert(got.map(_._2).sorted == (1L to 10L))
    // And a reader resuming from a MID-event cursor (after=5) delivers
    // only the straddling event's records past the cursor — never the
    // already-committed prefix of that event.
    val reader = new graft.sources.kinesislike.KinesisLikeReader(
      graft.sources.kinesislike.KinesisLikePartition(
        "shard-00000", f.getAbsolutePath, after = 5L,
        until = Long.MaxValue, failOnceAfter = -1L,
        markerDir = dir.toString, failAtOpen = "", failAtOpenTimes = 1))
    val tail = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (reader.next())
      tail += reader.get().getUTF8String(1).toString.toLong
    finally reader.close()
    assert(tail.toSeq == (6L to 10L))
  }

  test("shard count > cores: 16 shards on a 4-core master schedule " +
    "fairly under contention — every shard fully delivered exactly " +
    "once across multiple rate-limited microbatches, per-shard order " +
    "preserved (P7's N-shard generalization under queueing)") {
    val dir       = tmpDir("kl_manyshards")
    val numShards = 16 // 4x the master's 4 cores: tasks must QUEUE
    val perShard  = 25L
    // Sequence numbers are PER-SHARD (Kinesis continuation numbers are
    // per-shard cursors) — every shard runs 0..24, so the per-shard
    // admission cap of 7 drains each shard in exactly 4 batches.
    (0 until numShards).foreach { sh =>
      writeShard(dir, sh,
        (0L until perShard).map(i => (i, i * 10L, s"k$sh", s"s$sh-p$i")))
    }
    // Cap per-shard sequence advance so the drain takes several
    // microbatches — cursor commits interleave with task queueing.
    val delivered =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var batches = 0
    val q = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", "7")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches += 1
        // collect() concatenates partitions in partition order, and each
        // scan partition is one shard slice read sequentially — so rows
        // of one shard appear in file (= sequence) order within a batch.
        delivered ++= b
          .select(col("shardId"), col("sequenceNumber").cast("long"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", tmpDir("kl_manyshards_ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches >= 3, s"rate cap must force several batches, got $batches")
    // Exactly-once, no shard starved.
    val byShard = delivered.groupBy(_._1)
    assert(byShard.keySet.size == numShards, "every shard must deliver")
    byShard.foreach { case (sh, rows) =>
      // Arrival order per shard (across batches, in delivery order) is
      // exactly ascending-sequence: order held under 4x contention.
      assert(rows.map(_._2).toSeq == (0L until perShard),
        s"shard $sh order/content")
    }
  }

  test("rate limit caps each microbatch (offset math, per shard)") {
    val dir = tmpDir("kl_cap")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i, "k", s"p$i")))
    // Offset arithmetic: after=2 with cap 3 ⇒ end exactly 5.
    val stream = new graft.sources.kinesislike.KinesisLikeMicroBatchStream(
      graft.sources.kinesislike.KinesisLikeConfig(
        dir.toString, StartingPosition.TrimHorizon, Some(3L), None))
    val start = KinesisLikeOffset(Map("shard-00000" -> 2L))
    val end = stream
      .latestOffset(start, org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(3L))
      .asInstanceOf[KinesisLikeOffset]
    assert(end.positions == Map("shard-00000" -> 5L))
  }

  // ---------------------------------------------------- fault injection

  test("partial delivery then a transport error: delivered records survive, " +
    "nothing is lost or duplicated (producer.ex:159-168)") {
    val dir = tmpDir("kl_fault")
    writeShard(dir, 0, (0L until 12L).map(i => (i, i, "k", s"p$i")))
    val got = runStream(
      dir, "trim_horizon", tmpDir("kl_fault_ck"), "sink_fault",
      Map("failOnceAfter" -> "5"))
    // The fault fired exactly once (marker written by the reader)...
    assert(Files.exists(dir.resolve("_FAILED_ONCE")))
    // ...and the task retry reprocessed the batch exactly-once.
    assert(got.map(_._2).sorted == (0L until 12L))
  }

  test("rate-limited runs report backlog through StreamingQueryProgress: " +
    "latestOffset runs ahead of endOffset until the stream drains") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val dir = tmpDir("kl_lag")
    writeShard(dir, 0, (0L until 12L).map(i => (i, i, "k", s"p$i")))
    val progresses =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.sources.foreach { s =>
          progresses.add((s.endOffset, s.latestOffset))
        }
    }
    spark.streams.addListener(listener)
    try {
      runStream(
        dir, "trim_horizon", tmpDir("kl_lag_ck"), "sink_lag",
        Map("maxRecordsPerBatch" -> "3"))
      val deadline = System.currentTimeMillis() + 30000
      while (progresses.size() < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val events = progresses.asScala.toSeq
      def seqOf(off: String): Long =
        off.stripPrefix("shard-00000=").toLong
      // Early batches: the reported latest (11) is ahead of the capped
      // end offset — the consumer-visible backlog signal.
      assert(events.exists { case (end, latest) =>
        seqOf(latest) > seqOf(end)
      }, s"expected a lagging batch in: $events")
      // Drained: the last progress shows the gap closed.
      val (finalEnd, finalLatest) = events.last
      assert(seqOf(finalEnd) == 11L && seqOf(finalLatest) == 11L,
        s"expected drained offsets, got end=$finalEnd latest=$finalLatest")
    } finally spark.streams.removeListener(listener)
  }

  test("offset json round-trips") {
    val off = KinesisLikeOffset(Map("shard-00000" -> 12L, "shard-00001" -> -1L))
    assert(KinesisLikeOffset.fromJson(off.json()) == off)
  }

  test("fuzzed logs round-trip exactly through the batch read: arbitrary " +
    "shard counts, sequence gaps, and binary payloads") {
    val rnd = new scala.util.Random(42) // fixed seed: deterministic CI
    for (trial <- 0 until 5) {
      val dir      = tmpDir(s"kl_fuzz$trial")
      val nShards  = 1 + rnd.nextInt(5)
      var seq      = rnd.nextInt(10).toLong
      val expected = scala.collection.mutable.Map.empty[Long, Seq[Byte]]
      for (sh <- 0 until nShards) {
        val recs = (0 until rnd.nextInt(40)).map { _ =>
          seq += 1 + rnd.nextInt(7) // gaps are legal; order is per shard
          val payload = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
          expected(seq) = payload.toSeq
          val b64 = java.util.Base64.getEncoder.encodeToString(payload)
          s"$seq\t${rnd.nextInt(1000000)}\tk${rnd.nextInt(3)}\t$b64"
        }
        Files.write(
          dir.resolve(f"shard-$sh%05d.log"),
          (recs.mkString("\n") + "\n" +
            (if (rnd.nextBoolean()) KinesisLikeLog.ClosedMarker + "\n" else ""))
            .getBytes(UTF_8))
      }
      val got = readBatch(dir)
        .select(col("sequenceNumber").cast("long"), col("data"))
        .collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      assert(got == expected.toMap, s"trial $trial mismatch")
    }
  }

  // ----------------------- fault-injection matrix through the real path

  /** Each initial-response error class, raised at reader open MORE times
    * than the task-attempt budget so the QUERY fails, then supervised by
    * a ProducerRunner whose classify/retry loop recovers — the
    * producer-clause matrix of subscribe_to_shard_test.exs:249-281 run
    * end-to-end instead of with hand-built exception instances. */
  for ((spec, expectedClass) <- Seq(
      "resource_in_use" -> "resource_in_use",
      "http_error:503"  -> "http_error",
      "stream_closed"   -> "closed",
      "transport_closed" -> "transport_closed")) {
    test(s"open-failure injection '$spec' fails the query, the runner " +
      s"classifies it '$expectedClass' and recovers (producer.ex:89-132)") {
      val dir  = tmpDir(s"kl_open_$expectedClass")
      val ckpt = tmpDir(s"kl_open_${expectedClass}_ck")
      val out  = tmpDir(s"kl_open_${expectedClass}_out")
      writeShard(dir, 0, (0L until 6L).map(i => (i, i, "k", s"p$i")))
      val registry = new graft.streaming.ProducerRegistry
      val runner = new graft.streaming.ProducerRunner(
        streamName = s"open_$expectedClass",
        startQuery = () => spark.readStream
          .format("kinesislike")
          .option("path", dir.toString)
          .option("startingPosition", "trim_horizon")
          .option("failAtOpen", spec)
          .option("failAtOpenTimes", "2") // > local[4,2]'s attempt budget
          .load()
          .writeStream
          .format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start(),
        registry = registry,
        backoffMillis = 0L,
        maxRetries = 3,
        sleep = _ => ())
      assert(runner.run(), "runner should recover once the budget is spent")
      // The failure really traveled the read path and was classified.
      assert(runner.errorLog.nonEmpty)
      assert(runner.errorLog.head._1 == expectedClass)
      // Delivered exactly once despite the retries.
      val seqs = spark.read
        .schema(graft.sources.kinesislike.KinesisLikeTable.schema)
        .parquet(out.toString)
        .select(col("sequenceNumber").cast("long"))
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(seqs == (0L until 6L))
    }
  }

  test("an in-stream #ERROR record raises its class once mid-read; " +
    "delivered records survive (S10, subscribe_to_shard.ex:329-341)") {
    val dir = tmpDir("kl_instream")
    // 4 records, an exception frame, 2 more records.
    val recs = (0L until 4L).map(i => (i, i, "k", s"p$i"))
    val b64 = (p: String) =>
      java.util.Base64.getEncoder.encodeToString(p.getBytes(UTF_8))
    val lines =
      recs.map { case (s, us, k, p) => s"$s\t$us\t$k\t${b64(p)}" } ++
        Seq(KinesisLikeLog.ErrorMarker + "\thttp_error:500") ++
        (4L until 6L).map(i => s"$i\t$i\tk\t${b64(s"p$i")}") ++
        Seq(KinesisLikeLog.ClosedMarker)
    Files.write(
      dir.resolve("shard-00000.log"),
      (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val got = runStream(dir, "trim_horizon", tmpDir("kl_instream_ck"), "sink_instream")
    // Raised exactly once (task retry skips it), everything delivered.
    assert(Files.exists(dir.resolve("_INSTREAM_RAISED_shard-00000")))
    assert(got.map(_._2).sorted == (0L until 6L))
  }

  test("batch reads honor fault injection too: one open failure, task " +
    "retry recovers, rows intact") {
    val dir = tmpDir("kl_batch_fault")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    val rows = spark.read
      .format("kinesislike")
      .option("path", dir.toString)
      .option("failAtOpen", "resource_in_use")
      .option("failAtOpenTimes", "1") // within local[4,2]'s retry budget
      .load()
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000")))
    assert(rows == (0L until 5L))
  }

  test("injection budgets are scoped by faultRunId: a second run with a " +
    "fresh id injects again, and clearMarkers resets a shared fixture dir") {
    val dir = tmpDir("kl_fault_scope")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    def read(runId: String): Seq[Long] = spark.read
      .format("kinesislike")
      .option("path", dir.toString)
      .option("failAtOpen", "resource_in_use")
      .option("failAtOpenTimes", "1")
      .option("faultRunId", runId)
      .load()
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(read("r1") == (0L until 5L))
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r1")))
    // A distinct run id starts a fresh budget: the fault fires again
    // (marker of its own) instead of silently no-opping on the spent one.
    assert(read("r2") == (0L until 5L))
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r2")))
    // The explicit reset reclaims every budget marker in the dir.
    graft.sources.kinesislike.Faults.clearMarkers(dir.toString)
    assert(!Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r1")))
    assert(!Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r2")))
  }

  // ------------------------------------ shard-closed as a visible signal

  test("a drained CLOSED stream is observable distinctly from an idle " +
    "OPEN one (subscribe_to_shard.ex:356-363, producer.ex:116-123)") {
    import graft.sources.kinesislike.KinesisLikeStatus
    // Closed log: every shard ends with the nil-continuation marker.
    val closedDir = tmpDir("kl_status_closed")
    writeShard(closedDir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    writeShard(closedDir, 1, Seq((1L, 2L, "k", "b")), closed = true)
    // Open log: same content, no marker — merely idle after draining.
    val openDir = tmpDir("kl_status_open")
    writeShard(openDir, 0, Seq((0L, 1L, "k", "a")), closed = false)
    runStream(closedDir, "trim_horizon", tmpDir("kl_status_c_ck"), "sink_status_c")
    runStream(openDir, "trim_horizon", tmpDir("kl_status_o_ck"), "sink_status_o")
    assert(KinesisLikeStatus.of(closedDir.toString) == KinesisLikeStatus.Closed)
    assert(KinesisLikeStatus.of(openDir.toString) == KinesisLikeStatus.Open)
  }

  test("a recycled log path does not inherit the previous log's Closed " +
    "status: a new stream resets it at construction") {
    import graft.sources.kinesislike.{KinesisLikeConfig, KinesisLikeMicroBatchStream, KinesisLikeStatus}
    val dir = tmpDir("kl_status_recycle")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    runStream(dir, "trim_horizon", tmpDir("kl_recycle_ck1"), "sink_recycle_1")
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed)
    // Recycle the path: replace with a fresh OPEN log.
    Files.delete(dir.resolve("shard-00000.log"))
    writeShard(dir, 0, Seq((1L, 2L, "k", "b")), closed = false)
    // Constructing a stream over the recycled path starts a new lifetime.
    new KinesisLikeMicroBatchStream(
      KinesisLikeConfig(dir.toString, StartingPosition.TrimHorizon, None, None))
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
  }

  test("Closed status under concurrent consumers: sticky within a " +
    "lifetime (an undrained poll can't flip it back), union-reported, " +
    "reset only by a NEW stream over the path") {
    import graft.sources.kinesislike.{KinesisLikeConfig, KinesisLikeMicroBatchStream, KinesisLikeStatus}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir("kl_status_union")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a"), (1L, 2L, "k", "b")), closed = true)
    def cfg() = KinesisLikeConfig(
      dir.toString, StartingPosition.TrimHorizon, None, None)
    // Consumer B attaches: a fresh lifetime starts Open.
    val b = new KinesisLikeMicroBatchStream(cfg())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
    // Consumer A runs the dir to closure concurrently with B's lifetime.
    runStream(dir, "trim_horizon", tmpDir("kl_union_ck"), "sink_union_a")
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed,
      "a drained concurrent consumer reports closure (the union)")
    // B polls with an UNDRAINED cursor: stickiness — the race the
    // scaladoc documents — means this must NOT overwrite Closed back to
    // Open, even though B itself has everything still ahead of it.
    val undrained = b.initialOffset()
    b.latestOffset(undrained, ReadLimit.allAvailable())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed,
      "an undrained poll must not un-close the union status")
    // B draining too is idempotent.
    val drained = KinesisLikeOffset(Map("shard-00000" -> 1L))
    b.latestOffset(drained, ReadLimit.allAvailable())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed)
    // Only a NEW stream over the path starts the next lifetime Open.
    new KinesisLikeMicroBatchStream(cfg())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
  }

  test("ProducerRunner surfaces ShardsClosed distinctly from Normal") {
    import graft.streaming.{ProducerRegistry, ProducerRunner}
    val dir  = tmpDir("kl_runner_closed")
    val ckpt = tmpDir("kl_runner_closed_ck")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    val runner = new ProducerRunner(
      streamName = "runner_closed",
      startQuery = () => spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .load()
        .writeStream
        .format("memory")
        .queryName("sink_runner_closed")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start(),
      registry = new ProducerRegistry,
      logDir = Some(dir.toString))
    assert(runner.run())
    assert(runner.connState == ProducerRunner.ShardsClosed)
  }

  // --------------------------------------------- driver metadata caching

  test("unchanged shard files do not re-scan for offset metadata " +
    "(O(1) per microbatch, like Kafka listOffsets)") {
    val dir = tmpDir("kl_meta")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    assert(KinesisLikeLog.maxSeq(f) == 4L) // may scan
    val scansAfterFirst = graft.sources.kinesislike.KinesisLikeLog.metaScans.get()
    assert(KinesisLikeLog.maxSeq(f) == 4L)
    assert(KinesisLikeLog.isClosed(f))
    assert(KinesisLikeLog.maxSeq(f) == 4L)
    assert(KinesisLikeLog.metaScans.get() == scansAfterFirst,
      "repeated metadata reads of an unchanged shard must hit the cache")
    // An append invalidates (length changes) and the new record is seen.
    appendShard(dir, 0, Seq((5L, 5L, "k", "p5")))
    assert(KinesisLikeLog.maxSeq(f) == 5L)
  }

  test("repeated at_timestamp starts do not re-scan the shard: the " +
    "arrival index is cached like maxSeq, appends invalidate it") {
    import StartingPosition.AtTimestamp
    val dir = tmpDir("kl_tsindex")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")),
      closed = false)
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    def at(sec: Long): Long = KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(sec)))
    assert(at(5) == 4L) // may scan (builds the index)
    val scansAfterFirst = KinesisLikeLog.tsIndexScans.get()
    assert(at(7) == 6L)
    assert(at(0) == -1L)
    assert(at(100) == 9L) // past the end ⇒ latest
    assert(KinesisLikeLog.tsIndexScans.get() == scansAfterFirst,
      "repeated timestamp starts on an unchanged shard must hit the index")
    // An append invalidates (length changes) and the new record is seen.
    appendShard(dir, 0, Seq((10L, 10000000L, "k", "p10")))
    assert(at(10) == 9L)
  }

  test("the at_timestamp index answers NON-monotone arrivals exactly " +
    "like the full scan: min sequence whose own arrival is at-or-after") {
    import StartingPosition.AtTimestamp
    val dir = tmpDir("kl_tsindex_nonmono")
    // Arrivals 10s, 5s, 20s for seqs 0, 1, 2 — seq 1 is dominated by 0.
    writeShard(dir, 0, Seq(
      (0L, 10000000L, "k", "a"),
      (1L, 5000000L, "k", "b"),
      (2L, 20000000L, "k", "c")), closed = false)
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    def at(sec: Long): Long = KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(sec)))
    assert(at(6) == -1L)  // seq 0 (arrival 10s ≥ 6s) starts the slice
    assert(at(10) == -1L) // inclusive boundary
    assert(at(15) == 1L)  // only seq 2 qualifies ⇒ cursor 1
    assert(at(21) == 2L)  // past the end ⇒ latest
  }

  test("the metadata-only scan (maxSeq/isClosed) equals the full event " +
    "decode on framed logs: multi-record envelopes, error events, open " +
    "and closed shards, text and byte tiers") {
    val dir = tmpDir("kl_meta_fast")
    // Shard 0: closed, with an in-stream error marker mid-log; shard 1:
    // open (no closed marker) with a trailing record; both derive a
    // framed twin with 3-record envelopes so maxSeq must come from a
    // MULTI-record event's continuation, not a one-record line.
    writeShard(dir, 0,
      (0L until 7L).map(i => (i, i * 1000L, "k", s"p$i")), closed = true)
    writeShard(dir, 1,
      (10L until 15L).map(i => (i, i * 1000L, "k", s"p$i")), closed = false)
    val err = dir.resolve("shard-00000.log")
    val lines = new String(Files.readAllBytes(err), UTF_8).linesIterator.toSeq
    Files.write(err, (lines.take(3) ++ Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t1") ++
      lines.drop(3)).mkString("", "\n", "\n").getBytes(UTF_8))
    val framed = dir.resolveSibling(dir.getFileName.toString + "_framed")
    EventStreamFraming.deriveFramed(dir.toString, framed.toString)
    // Full-decode reference fold (the pre-optimization spelling).
    def fullFold(f: java.io.File): (Long, Boolean) = {
      var mx = -1L; var cl = false
      KinesisLikeLog.eachLine(f) { l =>
        if (l == KinesisLikeLog.ClosedMarker) cl = true
        else KinesisLikeLog.parseLine(l).foreach(r => mx = math.max(mx, r.seq))
      }
      (mx, cl)
    }
    for (d <- Seq(dir, framed); f <- KinesisLikeLog.shardFiles(d.toString)) {
      KinesisLikeLog.invalidateMeta(d.toString)
      val (mx, cl) = fullFold(f)
      assert(KinesisLikeLog.maxSeq(f) == mx, s"maxSeq diverged on $f")
      assert(KinesisLikeLog.isClosed(f) == cl, s"isClosed diverged on $f")
    }
    // The parallel prefetch populates the same cache the serial walk reads.
    KinesisLikeLog.invalidateMeta(framed.toString)
    KinesisLikeLog.prefetchMeta(framed.toString)
    val scans = KinesisLikeLog.metaScans.get()
    assert(KinesisLikeLog.shardFiles(framed.toString)
      .map(KinesisLikeLog.maxSeq).max == 14L)
    assert(KinesisLikeLog.metaScans.get() == scans,
      "the sequential walk after prefetch must be all cache hits")
  }

  test("stream construction invalidates cached shard metadata: a recycled " +
    "path with same-length content within mtime granularity is re-scanned") {
    val dir = tmpDir("kl_meta_recycle")
    writeShard(dir, 0, Seq((3L, 1L, "k", "a")), closed = false)
    val f = KinesisLikeLog.shardFile(dir.toString, "shard-00000")
    assert(KinesisLikeLog.maxSeq(f) == 3L)
    val mtime = f.lastModified()
    // Replace with a same-length line holding a different max seq, and
    // pin the mtime so the (mtime, length) cache key is provably blind.
    writeShard(dir, 0, Seq((7L, 1L, "k", "a")), closed = false)
    assert(f.setLastModified(mtime))
    assert(KinesisLikeLog.maxSeq(f) == 3L,
      "precondition: the cache key alone cannot see this replacement")
    // A new stream lifetime at the same path re-scans.
    new graft.sources.kinesislike.KinesisLikeMicroBatchStream(
      graft.sources.kinesislike.KinesisLikeConfig(
        dir.toString, StartingPosition.TrimHorizon, None, None))
    assert(KinesisLikeLog.maxSeq(f) == 7L)
  }

  // ------------------------------------------------ seeking readers

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  /** A record line whose ~150-byte payload puts a 64 KB seek stride
    * every ~190 records; `fill` varies the payload at a fixed length. */
  private def recLine(seq: Long, fill: Char = 'p'): String =
    s"$seq\t${seq * 1000L}\tk${seq % 7}\t${b64(fill.toString * 150 + seq)}"

  private def writeFramed(
      f: java.io.File, lines: Seq[String], append: Boolean = false): Unit = {
    val sink = KinesisLikeLog.openLineSink(f, append = append)
    try lines.foreach(sink.writeLine) finally sink.close()
  }

  /** Byte offsets at which the frames of a framed shard end. */
  private def frameEnds(bytes: Array[Byte]): Seq[Int] = {
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var off  = 0
    while (off + 4 <= bytes.length) {
      off += java.nio.ByteBuffer.wrap(bytes, off, 4).getInt
      ends += off
    }
    ends.toSeq
  }

  /** Every row one reader delivers: (seq, arrival, key, data). */
  private def readRows(
      f: java.io.File, after: Long, until: Long, startByte: Long,
      scope: String = ""): Seq[(Long, Long, String, Seq[Byte])] = {
    val r = new graft.sources.kinesislike.KinesisLikeReader(
      graft.sources.kinesislike.KinesisLikePartition(
        "shard-00000", f.getAbsolutePath, after, until, failOnceAfter = -1L,
        markerDir = f.getParent, failAtOpen = "", failAtOpenTimes = 1,
        faultScope = scope, startByte = startByte))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Seq[Byte])]
    try while (r.next()) {
      val row = r.get()
      out += ((row.getUTF8String(1).toString.toLong, row.getLong(2),
        row.getUTF8String(3).toString, row.getBinary(4).toSeq))
    } finally r.close()
    out.toSeq
  }

  /** The seek index as a step function of the cursor. */
  private def seekSteps(f: java.io.File, upTo: Long): Seq[Long] =
    (-1L to upTo + 1).map(KinesisLikeLog.seekOffset(f, _))

  test("a reader seeking to the index's startByte returns exactly the " +
    "rows of a byte-0 read: multi-record envelopes, mid-event cursors, a " +
    "duplicate seq at a batch seam, the closed marker") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir("kl_seek")
    val f   = dir.resolve("shard-00000.elog").toFile
    // Every record twice (at-least-once redelivery), three lines per
    // envelope: envelopes [0,0,1] [1,2,2] [3,3,4] … so half of them open
    // with a duplicate of the previous envelope's continuation.
    writeFramed(f,
      (0L until 1500L).flatMap(i => Seq(recLine(i), recLine(i))) :+
        KinesisLikeLog.ClosedMarker)
    assert(KinesisLikeLog.shardFile(dir.toString, "shard-00000") == f,
      "shardFile resolves the framed file of a framed dir")
    assert(KinesisLikeLog.maxSeq(
      KinesisLikeLog.shardFile(dir.toString, "shard-00000")) == 1499L)
    val steps = seekSteps(f, 1499L)
    val conts = (0L to 1499L).filter(c => steps(c.toInt + 1) != steps(c.toInt))
    assert(conts.size >= 10, s"expected a populated seek index, got $conts")
    val cursors = (conts.flatMap(c => Seq(c - 1, c, c + 1)) ++
      Seq(-1L, 0L, 1498L, 1499L)).distinct.sorted
    for (after <- cursors; until <- Seq(after + 1, after + 5, Long.MaxValue)) {
      val start = KinesisLikeLog.seekOffset(f, after)
      assert(readRows(f, after, until, start) == readRows(f, after, until, 0L),
        s"seek diverged for ($after, $until] from byte $start")
    }
    // A batch seam at an indexed continuation: (…, c] then (c, …] — the
    // batch ending at c takes both copies of c even when the second opens
    // the next envelope, and the next batch, seeking, takes neither.
    conts.take(4).foreach { c =>
      val first  = readRows(f, c - 10, c, KinesisLikeLog.seekOffset(f, c - 10))
      val second = readRows(f, c, c + 10, KinesisLikeLog.seekOffset(f, c))
      assert(first.count(_._1 == c) == 2 && !second.exists(_._1 == c))
      assert(first ++ second == readRows(f, c - 10, c + 10, 0L))
    }
    // planInputPartitions hands the reader that offset.
    val stream = new graft.sources.kinesislike.KinesisLikeMicroBatchStream(
      graft.sources.kinesislike.KinesisLikeConfig(
        dir.toString, StartingPosition.TrimHorizon, None, None))
    val from = KinesisLikeOffset(Map("shard-00000" -> 1000L))
    val parts = stream.planInputPartitions(from,
      stream.latestOffset(from, ReadLimit.allAvailable()))
    val p = parts.head.asInstanceOf[graft.sources.kinesislike.KinesisLikePartition]
    assert(p.startByte > 0L && p.startByte == KinesisLikeLog.seekOffset(f, 1000L))
  }

  test("a seeking reader raises an in-stream error just past its cursor " +
    "with the same label and budget use, and fails a corrupt or truncated " +
    "frame exactly like a byte-0 read") {
    val dir = tmpDir("kl_seek_fail")
    val f   = dir.resolve("shard-00000.elog").toFile
    writeFramed(f, (0L until 800L).map(recLine(_)) ++
      Seq(s"${KinesisLikeLog.ErrorMarker}\thttp_error:500\t1") ++
      (800L until 1000L).map(recLine(_)) :+ KinesisLikeLog.ClosedMarker)
    assert(KinesisLikeLog.maxSeq(f) == 999L)
    val start = KinesisLikeLog.seekOffset(f, 799L)
    assert(start > 0L)
    def marker(scope: String) = dir.resolve(s"_INSTREAM_RAISED_shard-00000_$scope")
    val bySeek = intercept[RuntimeException](readRows(f, 799L, 900L, start, "seek"))
    val byFull = intercept[RuntimeException](readRows(f, 799L, 900L, 0L, "full"))
    assert(bySeek.getClass == byFull.getClass &&
      bySeek.getMessage == byFull.getMessage)
    assert(graft.sources.kinesislike.KinesisLikeErrors.classify(bySeek) == "http_error")
    // The budget is spent once either way, and the retry passes the frame.
    assert(readRows(f, 799L, 900L, start, "seek") ==
      readRows(f, 799L, 900L, 0L, "full"))
    assert(Files.readAllLines(marker("seek")) == Files.readAllLines(marker("full")))
    assert(Files.readAllLines(marker("seek")).size == 1)

    // Damage the last frame (the closed marker) after the index was built:
    // both reads reach it and fail the same way (their error budgets are
    // spent, so the byte-0 read passes the error frame).
    val clean = Files.readAllBytes(f.toPath)
    val tail  = KinesisLikeLog.seekOffset(f, 999L)
    assert(tail > 0L)
    def failures(): (String, String) = {
      def read(start: Long, scope: String) =
        intercept[IllegalArgumentException](
          readRows(f, 998L, Long.MaxValue, start, scope)).getMessage
      (read(tail, "seek"), read(0L, "full"))
    }
    val flipped = clean.clone()
    flipped(clean.length - 20) = (flipped(clean.length - 20) ^ 0x01).toByte
    Files.write(f.toPath, flipped)
    val (crcSeek, crcFull) = failures()
    assert(crcSeek == crcFull && crcSeek.contains("CRC mismatch"))
    Files.write(f.toPath, clean.take(clean.length - 10))
    val (cutSeek, cutFull) = failures()
    assert(cutSeek == cutFull &&
      cutSeek.contains("truncated event-stream frame at EOF"))
  }

  test("a subscription starting past an unspent history error frame does " +
    "not raise it — Kinesis never delivers what precedes the start — " +
    "while a byte-0 read of the same cursor would") {
    val dir = tmpDir("kl_seek_history")
    val f   = dir.resolve("shard-00000.elog").toFile
    writeFramed(f, (0L until 200L).map(recLine(_)) ++
      Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t1") ++
      (200L until 1000L).map(recLine(_)) :+ KinesisLikeLog.ClosedMarker)
    val got = runStream(dir, "after_sequence_number:900",
      tmpDir("kl_seek_history_ck"), "sink_seek_history")
    assert(got.map(_._2).sorted == (901L until 1000L))
    assert(!Files.exists(dir.resolve("_INSTREAM_RAISED_shard-00000")))
    // The unseeked reader still passes the frame and spends the budget.
    intercept[graft.sources.kinesislike.KinesisLikeErrors.TransportClosedException](
      readRows(f, 900L, Long.MaxValue, 0L))
  }

  test("incremental shard metadata: after each append, maxSeq, isClosed " +
    "and the seek index equal a cold full scan, and the scan reads only " +
    "the appended bytes plus one boundary frame") {
    val dir = tmpDir("kl_meta_incr")
    val f   = dir.resolve("shard-00000.elog").toFile
    def state() = {
      val mx = KinesisLikeLog.maxSeq(f)
      (mx, KinesisLikeLog.isClosed(f), seekSteps(f, mx))
    }
    def cold() = { KinesisLikeLog.invalidateMeta(dir.toString); state() }
    writeFramed(f, (0L until 400L).map(recLine(_)))
    assert(state() == cold())
    val appends = Seq(
      (400L until 410L).map(recLine(_)),  // within one stride
      (410L until 800L).map(recLine(_)),  // across several
      Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t1"),
      (800L until 830L).map(recLine(_)),
      Seq(KinesisLikeLog.ClosedMarker))
    appends.foreach { lines =>
      val before   = Files.readAllBytes(f.toPath)
      val ends     = frameEnds(before)
      val boundary = ends.last - ends.init.lastOption.getOrElse(0)
      writeFramed(f, lines, append = true)
      val appended = f.length - before.length
      val bytes0   = KinesisLikeLog.metaBytesScanned.get()
      val warm     = state()
      assert(KinesisLikeLog.metaBytesScanned.get() - bytes0 == appended + boundary)
      assert(warm == cold())
    }
    assert(state()._1 == 829L && state()._2)
  }

  test("incremental shard metadata falls back safely: a truncated tail " +
    "still fails, a shrunk file and a rewritten prefix re-scan in full") {
    val dir = tmpDir("kl_meta_fallback")
    val f   = dir.resolve("shard-00000.elog").toFile
    def state() = {
      val mx = KinesisLikeLog.maxSeq(f)
      (mx, KinesisLikeLog.isClosed(f), seekSteps(f, mx))
    }
    def cold() = { KinesisLikeLog.invalidateMeta(dir.toString); state() }
    /** Bytes the next metadata read scans, and its result. */
    def scanned(): (Long, (Long, Boolean, Seq[Long])) = {
      val bytes0 = KinesisLikeLog.metaBytesScanned.get()
      val s      = state()
      (KinesisLikeLog.metaBytesScanned.get() - bytes0, s)
    }
    writeFramed(f, (0L until 300L).map(recLine(_)))
    assert(KinesisLikeLog.maxSeq(f) == 299L)
    val whole = Files.readAllBytes(f.toPath)
    val ends  = frameEnds(whole)
    val lastFrame = ends.last - ends(ends.size - 2)

    // Truncated tail: half of one more frame.
    val half = EventStreamFraming.encodeLine(recLine(300L))
    Files.write(f.toPath, half.take(half.length / 2), StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException](KinesisLikeLog.maxSeq(f))
    assert(e.getMessage.contains("truncated event-stream frame at EOF"))

    // Rewritten prefix: same frame layout, but the boundary event's
    // payloads changed, then more records — its CRC no longer matches.
    writeFramed(f, (0L until 297L).map(recLine(_)) ++
      (297L until 300L).map(recLine(_, 'q')) ++ (300L until 310L).map(recLine(_)))
    assert(frameEnds(Files.readAllBytes(f.toPath)).contains(whole.length))
    val (rewritten, afterRewrite) = scanned()
    assert(rewritten == lastFrame + f.length, "the rewrite must re-scan in full")
    assert(afterRewrite == cold())

    // Shrunk: cut back to a prefix of whole frames.
    Files.write(f.toPath, whole.take(ends(ends.size / 2)))
    val (shrunk, afterShrink) = scanned()
    assert(shrunk == f.length, "a shrunk file must re-scan in full")
    assert(afterShrink == cold())
  }
}
